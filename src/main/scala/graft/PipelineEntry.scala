package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.functions.TextFunctions
import graft.operators.{AsOf, Behavior, Bloom, Cluster, Dedup, Features, Graph, Incremental, Layout, Multimodal, Pack, Pca, Quantile, Sampling, Sessionize, Similarity, Skyline, Tensor, Validate}
import graft.streaming.{StreamOps, StreamRun}
import graft.testkit.StreamReplay

/** North-star extension queries (BASELINE.json): dedup, similarity
  * search, text analysis, multimodal plumbing, event sessionization.
  *
  * The DuckDB oracle SQL for the hash-heavy operators is GENERATED from
  * the same constants the Scala operators use (minhash permutations,
  * simhash bit count, rolling-hash weights, embedding dimension), so both
  * engines execute the identical math — differential testing without
  * rounding slop.
  */
object PipelineEntry {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables(s, dir, name)

  /** Suite-level derived-edges cache: the graph family shares two
    * expensive edge derivations (the customer↔supplier affinity graph
    * and the sampled part co-purchase graph), and each query
    * re-deriving its own copy re-ran the same orders⋈lineitem join up
    * to 4× per suite — measured at sf10 (r13 graph probe) the derivation
    * was 213 s of labelprop's 335.8 s. A user at 100 TB materializes
    * the edge list once and feeds it to every graph operator (the same
    * materialize-once contract as Similarity's persisted index); this
    * cache is the in-suite expression of that contract: the derivation
    * is written ONCE as parquet (narrow two-long rows) and every
    * consumer scans it back. Staged as FILES, not a local checkpoint,
    * deliberately: the row step ([[Rows.run]]) unpersists all
    * persistent RDDs between rows (stranded-block hygiene), and a
    * foreign-unpersisted local checkpoint is unrecoverable (lineage
    * truncated) — the first in-suite run of this cache as checkpoints
    * lost the blocks and failed 6 graph rows with
    * CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND.
    * Parquet staging is immune and matches what a cluster user
    * actually does (write the edge table). Keyed by (application,
    * fixture dir, recipe); one scratch dir per key per JVM, bounded. */
  private val edgeCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def cachedEdges(s: SparkSession, dir: String, recipe: String)
                         (derive: => DataFrame): DataFrame = {
    val path = edgeCache.computeIfAbsent(
      s"${s.sparkContext.applicationId}|$dir|$recipe", _ => {
        val p = Scratch.dir(s, s"graft-edges-$recipe")
        derive.write.mode("overwrite").parquet(p)
        p
      })
    // the landed dir is never rewritten: resolve it once per session
    Tables.parquet(s, path)
  }

  /** Scale-adaptive wave count for the chunked gate rows (r17,
    * optimization guide §2: partitioning must derive from input size,
    * not a constant tuned for one scale). One wave should hold a
    * bounded slice of the staged candidate volume, so the count grows
    * linearly with the named input table's on-disk bytes: at the gate
    * SFs it floors at 2 (the wave loop and its staging/pruning path
    * stay exercised on every bench and every oracle run — never a
    * degenerate single-wave execution), and it reaches the 8-10 waves
    * the sf100 rehearsals needed at their measured input sizes
    * (customer ≈ 2.4 GB at sf100 / 256 MB per wave ≈ 10; the r16-r17
    * records ran 8). Result is wave-count-invariant by construction
    * (pinned by the equivalence unit suite), so this changes execution
    * shape only, never the pair set. A table that cannot be sized fails
    * the row: a guessed count at scale could run near-single-wave, the
    * local-disk spill regime the wave count exists to bound. */
  private def autoPasses(s: SparkSession, dir: String, table: String,
                         bytesPerWave: Long): Int = {
    val bytes = Tables.bytes(s, dir, table)
    math.max(2L, math.min(64L, (bytes + bytesPerWave - 1) / bytesPerWave)).toInt
  }

  /** Write `df` to `out` as parquet and return a frame that reads it back
    * with the writer's schema, so the read starts no schema-inference job. */
  private def land(df: DataFrame, out: String): DataFrame = {
    df.write.mode("overwrite").parquet(out)
    df.sparkSession.read.schema(df.schema).parquet(out)
  }

  /** Customer↔supplier affinity edges (customers even ids, suppliers
    * odd), DIRECTED canonical form — consumers symmetrize as needed.
    * Shared by graph_pagerank / graph_labelprop / graph_powerlaw. */
  private def affinityEdges(s: SparkSession, dir: String): DataFrame =
    cachedEdges(s, dir, "affinity") {
      val o = t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
      val li = t(s, dir, "lineitem").select(col("l_orderkey"), col("l_suppkey"))
      o.join(li, o("o_orderkey") === li("l_orderkey"))
        .select((col("o_custkey") * 2).as("src"), (col("l_suppkey") * 2 + 1).as("dst"))
        .distinct()
    }

  /** Part co-purchase edges on the 1-in-8 node-induced sample
    * (src < dst canonical orientation). Shared by graph_kcore /
    * graph_assortativity / graph_clustcoef / graph_triangles /
    * graph_linkpred. */
  private def copurchaseEdges(s: SparkSession, dir: String): DataFrame =
    cachedEdges(s, dir, "copurchase8") {
      val li = t(s, dir, "lineitem")
        .filter(col("l_partkey") % 8 === 0)
        .select(col("l_orderkey"), col("l_partkey")).distinct()
      li.alias("x").join(li.alias("y"),
          col("x.l_orderkey") === col("y.l_orderkey") &&
            col("x.l_partkey") < col("y.l_partkey"))
        .select(col("x.l_partkey").as("src"), col("y.l_partkey").as("dst"))
    }

  // ---------------------------------------------------------------
  // shared SQL fragments (DuckDB dialect), mirrored from TextFunctions
  //
  // ORACLE-INDEPENDENCE AUDIT (VERDICT r6 #8). These fragments make
  // some oracles FORMULA-MIRRORING: the DuckDB SQL recomputes the same
  // published formula (md5-prefix hash, minhash permutation constants,
  // simhash bit votes, stopword tables) rather than an independent
  // specification of the result. For each such oracle the independence
  // argument is one of:
  //   (a) cross-engine differential: the shared part is only the SPEC
  //       (constants + published algorithm); the two EXECUTIONS share
  //       nothing — DuckDB list kernels vs Spark codegen'd expressions,
  //       two unrelated md5 implementations. A bug must be introduced
  //       twice, independently, identically, to pass.
  //   (b) second witness: a unit/property test checks the same operator
  //       against a third implementation or a hand-computed value, so
  //       even a spec-level mistake (wrong formula faithfully mirrored
  //       twice) is caught on semantics.
  // Per-oracle annotations:
  //   - sqlHash / minhash sig & pairs / ngram jaccard / simhash:
  //     (a) for execution; (b) via OperatorsSpec "minhash finds a
  //     planted near-duplicate pair", "simhash: identical docs equal,
  //     near-dup within small hamming", "ngram jaccard pairs route
  //     through LSH candidates" — semantic assertions (planted dup
  //     found, threshold respected) that hold regardless of constants.
  //   - dedup_clusters: (b) the oracle side is an INDEPENDENT
  //     formulation (recursive-CTE connected components vs iterative
  //     Pregel-style propagation) over the shared pair input; plus
  //     CurationSpec hand-built chain/singleton fixtures.
  //   - text_langid: (a) stopword tables are the spec; (b) OperatorsSpec
  //     "langid picks the dominant stopword language" hand fixtures.
  //   - text_fingerprint / rolling hash: (a); (b) OperatorsSpec
  //     "fingerprint is whitespace/case-insensitive" pins semantics.
  //   - sql_kernels parity: (b) OperatorsSpec "native text kernels match
  //     HOF formulations bit-for-bit" — the kernels are checked against
  //     a THIRD formulation (Spark higher-order functions) inside Spark,
  //     so kernel↔oracle agreement is not the only line of defense.
  //   - dedup_embedding / sim_lsh sign-LSH buckets (shared hyperplane
  //     constants): (a); (b) OperatorsSpec "embedding near-dup finds
  //     planted duplicate via LSH buckets", "LSH ANN achieves nontrivial
  //     recall vs brute force" — recall measured against exact cosine.
  //   - sim_* top-k ranking: (b) CurationSpec "topKBy: bounded aggregate
  //     plan, window-formulation parity" checks the TopKByScore
  //     aggregate against a row_number-window formulation — a third
  //     implementation of the ranking semantics.
  //   - sample/hashBucket (md5 bucket, also misc_sample in SparkEntry):
  //     (a) two md5 implementations; (b) CurationSpec "sampleHash:
  //     deterministic, rate-shaped, seed-independent draws" asserts the
  //     statistical contract without referencing md5 at all.
  //   - str_replace_max CASE chain (SparkEntry): (b) PropertySpec
  //     "replace(old, new, max): Spark == JVM reference on random
  //     strings" — java.lang.String is the third implementation.
  //   - dedup_incremental (reuses minhashPairCtes): (a) as for the other
  //     minhash oracles; (b) IncrementalSpec's planted cross-set
  //     near-dup / novel doc / short-doc fixtures pin the semantics.
  //   - lay_zorder (bit-interleave mirrored in SQL): (a) spec is the
  //     published Morton interleave, executions unrelated; (b)
  //     PropertySpec "zValue: bijective bit interleave == JVM reference"
  //     is the third implementation.
  // ---------------------------------------------------------------
  private def sqlHash(x: String): String =
    s"CAST(concat('0x', substr(md5($x),1,7)) AS BIGINT)"
  private val sqlTokens = "string_split_regex(trim(text), '\\s+')"

  /** feat_logreg replay: `iters` fast-sigmoid GD iterations unrolled.
    * Mirrors Features.logisticTrain exactly — z is the same left-assoc
    * dot product, e/d/gradient the same rational trees, gradient sums
    * floor-quantized HUGEINTs, and the weight update replays the BigInt
    * floor division with a sign split (DuckDB `//` truncates toward
    * zero; `-((-t + d - 1) // d)` is floor for negative t). The CTE
    * count is 3·iters + 3 — scalar width is 4 columns, far below the
    * mmap-hazard vector unrolls the gate-hygiene note bans.
    */
  private def logregOracleSql(iters: Int, lrNum: Long): String = {
    val z = "(w0/16777216.0 + w1/16777216.0*f1 + w2/16777216.0*f2 + w3/16777216.0*f3)"
    val e = "(0.5 + 0.5*z/(1.0 + abs(z)) - y)"
    val d = "(0.5/((1.0 + abs(z))*(1.0 + abs(z))))"
    def gq(x: String) = {
      val xm = if (x.isEmpty) "" else s" * $x"
      s"SUM(CAST(FLOOR($e * $d$xm * 1073741824.0) AS HUGEINT))"
    }
    def upd(w: String, g: String) =
      s"""$w - CASE WHEN $lrNum*$g >= 0 THEN ($lrNum*$g) // (64*n)
         |    ELSE -((-($lrNum*$g) + 64*n - 1) // (64*n)) END AS $w""".stripMargin
    val steps = (1 to iters).map { k =>
      val prevW = if (k == 1) "wt0" else s"wt${k - 1}"
      s"""px$k AS (SELECT f.*, $z AS z FROM f CROSS JOIN $prevW),
         |gr$k AS (SELECT COUNT(*) AS n, ${gq("")} AS gq0, ${gq("f1")} AS gq1,
         |  ${gq("f2")} AS gq2, ${gq("f3")} AS gq3 FROM px$k),
         |wt$k AS MATERIALIZED (SELECT ${upd("w0", "gq0")}, ${upd("w1", "gq1")},
         |  ${upd("w2", "gq2")}, ${upd("w3", "gq3")} FROM $prevW CROSS JOIN gr$k)""".stripMargin
    }.mkString(",\n")
    s"""WITH t0 AS (SELECT doc_id, n_chars, text, $sqlTokens AS ts FROM documents),
       |f AS MATERIALIZED (SELECT doc_id,
       |    CAST(least(len(ts), 300) AS DOUBLE)/300.0 AS f1,
       |    CAST(len(list_distinct(ts)) AS DOUBLE)/len(ts) AS f2,
       |    CAST(least(length(replace(text, ' ', '')), 2000) AS DOUBLE)/2000.0 AS f3,
       |    CASE WHEN n_chars > 300 THEN 1.0 ELSE 0.0 END AS y
       |  FROM t0),
       |wt0 AS (SELECT CAST(0 AS HUGEINT) AS w0, CAST(0 AS HUGEINT) AS w1,
       |  CAST(0 AS HUGEINT) AS w2, CAST(0 AS HUGEINT) AS w3),
       |$steps,
       |fin AS (SELECT f.*, $z AS z FROM f CROSS JOIN wt$iters)
       |SELECT doc_id, CAST(y AS BIGINT) AS y,
       |  0.5 + 0.5*z/(1.0 + abs(z)) AS p,
       |  CAST(CASE WHEN 0.5 + 0.5*z/(1.0 + abs(z)) >= 0.5 THEN 1 ELSE 0 END AS BIGINT) AS pred
       |FROM fin ORDER BY doc_id""".stripMargin
  }

  /** shared PCA replay chain (arr_pca / arr_pca_project): unrolled
    * quantized power iterations over the exact-integer scatter matrix —
    * the same arithmetic as Pca.axisVector. Every CTE is referenced
    * exactly ONCE per consumer (the renorm max is a window, not a
    * scalar subquery) and the multiply-referenced ones (x, sm, vf) are
    * MATERIALIZED — DuckDB inlines CTEs, so a double reference would
    * replay the whole iteration chain exponentially. */
  private lazy val sqlPcaChain: String = {
    val steps = (1 to 8).map { k =>
      val p = s"v${k - 1}"
      s"""w$k AS (SELECT sm.i AS i, SUM(sm.sv * $p.v) AS w
         |  FROM sm JOIN $p ON $p.i = sm.j GROUP BY 1),
         |v$k AS (SELECT i, CAST(FLOOR(CAST(w AS DOUBLE) * 1048576.0 /
         |    MAX(ABS(CAST(w AS DOUBLE))) OVER ()) AS HUGEINT) AS v
         |  FROM w$k)""".stripMargin
    }.mkString(",\n")
    s"""e AS (SELECT vec_id, list_transform(embedding,
       |    x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1048576.0) AS BIGINT)) AS qv
       |  FROM embeddings),
       |x AS MATERIALIZED (SELECT vec_id, generate_subscripts(qv, 1) - 1 AS i, unnest(qv) AS q FROM e),
       |nn AS (SELECT CAST(COUNT(DISTINCT vec_id) AS HUGEINT) AS n FROM x),
       |sv0 AS (SELECT i, CAST(SUM(q) AS HUGEINT) AS s FROM x GROUP BY i),
       |g AS (SELECT a.i AS i, b.i AS j, CAST(SUM(CAST(a.q AS HUGEINT) * b.q) AS HUGEINT) AS g
       |  FROM x a JOIN x b USING (vec_id) GROUP BY 1, 2),
       |sm AS MATERIALIZED (SELECT g.i, g.j, nn.n * g.g - sa.s * sb.s AS sv
       |  FROM g CROSS JOIN nn
       |  JOIN sv0 sa ON sa.i = g.i JOIN sv0 sb ON sb.i = g.j),
       |v0 AS (SELECT i, CAST(1048576 AS HUGEINT) AS v FROM sv0),
       |$steps,
       |vf AS MATERIALIZED (SELECT * FROM v8),
       |top AS (SELECT i FROM vf ORDER BY ABS(v) DESC, i LIMIT 1),
       |sgn AS (SELECT CASE WHEN (SELECT v FROM vf WHERE i = (SELECT i FROM top)) < 0
       |  THEN -1 ELSE 1 END AS sg)""".stripMargin
  }

  /** second-axis extension of [[sqlPcaChain]] (arr_pca2): deflation by
    * exact integer orthogonalization against vf — note orth is
    * SIGN-INVARIANT in v1 (v1 appears twice), so using the unsigned vf
    * matches the library's sign-fixed first axis. Per round: power
    * iterate, renorm, orthogonalize, renorm — the intermediate renorm
    * keeps every product ≤ ~2^66, inside HUGEINT. */
  private lazy val sqlPca2Chain: String = {
    def rn(x: String) =
      s"CAST(FLOOR(CAST($x AS DOUBLE) * 1048576.0 / MAX(ABS(CAST($x AS DOUBLE))) OVER ()) AS HUGEINT)"
    val steps = (1 to 8).map { k =>
      val p = s"u${k - 1}"
      val o = s"ur$k.v * vn.v1n - vf.v * ud$k.dot"
      s"""uw$k AS (SELECT sm.i AS i, SUM(sm.sv * $p.v) AS w
         |  FROM sm JOIN $p ON $p.i = sm.j GROUP BY 1),
         |ur$k AS MATERIALIZED (SELECT i, ${rn("w")} AS v FROM uw$k),
         |ud$k AS (SELECT SUM(vf.v * ur$k.v) AS dot FROM vf JOIN ur$k ON ur$k.i = vf.i),
         |u$k AS (SELECT ur$k.i, ${rn(o)} AS v
         |  FROM ur$k JOIN vf ON vf.i = ur$k.i CROSS JOIN vn CROSS JOIN ud$k)""".stripMargin
    }.mkString(",\n")
    val seed = "1048576 * vn.v1n - vf.v * (1048576 * vn.v1s)"
    s"""vn AS MATERIALIZED (SELECT SUM(v * v) AS v1n, SUM(v) AS v1s FROM vf),
       |u0 AS (SELECT i, ${rn(seed)} AS v FROM vf CROSS JOIN vn),
       |$steps,
       |uf AS MATERIALIZED (SELECT * FROM u8),
       |topu AS (SELECT i FROM uf ORDER BY ABS(v) DESC, i LIMIT 1),
       |sgnu AS (SELECT CASE WHEN (SELECT v FROM uf WHERE i = (SELECT i FROM topu)) < 0
       |  THEN -1 ELSE 1 END AS sg)""".stripMargin
  }
  /** deterministic mojibake tail for text_fix_encoding: café + curly
    * quotes + em dash, each cp1252-double-decoded (\u escapes — see
    * TextFunctions.MojibakeMap's byte math).
    */
  private[graft] val MojiSample: String =
    "caf\u00c3\u00a9 \u00e2\u20ac\u0153ok\u00e2\u20ac\u009d \u00e2\u20ac\u201d x"
  /** any string as a DuckDB expression via chr() codepoints — immune to
    * source/JSON encoding of non-ASCII and control chars.
    */
  private def sqlChrs(s: String): String =
    s.map(c => s"chr(${c.toInt})").mkString(" || ")
  /** distinct word n-gram shingles over ts (mirrors TextFunctions.shingles). */
  private def sqlShingles(n: Int): String = {
    val parts = (0 until n).map(k => s"ts[i+$k]").mkString(" || ' ' || ")
    s"list_distinct(list_transform(range(1, greatest(len(ts)-${n - 1},0)+1), i -> $parts))"
  }
  /** sign-LSH bucket id over a DuckDB list column — generated from the
    * SAME LCG hyperplane constants as Similarity.lshBucket, with the same
    * left-to-right double fold, so bucket ids are bit-identical.
    */
  private def sqlLshBucket(vec: String, dim: Int, nBits: Int): String =
    (0 until nBits).map { i =>
      val ws = Similarity.hyperplane(i + 1, dim).mkString("[", ", ", "]")
      val dot = s"list_sum(list_transform(list_zip($vec, $ws), p -> CAST(p[1] AS DOUBLE) * p[2]))"
      s"(CASE WHEN ($dot) >= 0 THEN CAST(${1L << i} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
    }.mkString(" + ")
  private def sqlDot(a: String, b: String): String =
    s"list_sum(list_transform(list_zip($a, $b), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))"
  private def sqlNorm(a: String): String =
    s"SQRT(list_sum(list_transform($a, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))"
  private def sqlCos(a: String, b: String): String =
    s"(${sqlDot(a, b)}) / (${sqlNorm(a)} * ${sqlNorm(b)})"

  /** Elementwise integer-mean centroid as one list-valued subquery:
    * unnest member vectors positionally, per-(group, dim) exact mean
    * (same FLOOR(SUM/COUNT) arithmetic as before), regroup ordered by
    * dim. Replaces 64 unrolled SUM(qv[i]) aggregates — the unrolled
    * plan allocated tens of thousands of transient memory maps in the
    * oracle process (the round-9 gate OOM); this form is three
    * operators regardless of dimension. */
  private def sqlCentSelect(src: String, grp: String, out: String, dim: Int = 64): String =
    s"""(SELECT $grp AS $out, list(v ORDER BY d) AS cv FROM (
       |  SELECT $grp, d, CAST(FLOOR(CAST(SUM(x) AS DOUBLE) / COUNT(*)) AS BIGINT) AS v
       |  FROM (SELECT $grp, unnest(qv) AS x, unnest(range(1, ${dim + 1})) AS d FROM $src)
       |  GROUP BY $grp, d) GROUP BY $grp)""".stripMargin

  /** PQ/ADC replay shared by sim_pq and sim_pq_refined: `m` independent
    * `sub`-dim Lloyd's trainings (one per subspace, mirroring
    * Similarity.pqTrain's reuse of the integer k-means), encode = rn-1
    * assignment vs the FINAL training centroids c1_j, ADC = per-query
    * distance table qt_j joined on the stored code. Ends at CTE `r`
    * with (q_id, c_id, adist, rank) — pure int64 throughout.
    */
  private def pqSqlCtes(m: Int, sub: Int, ksub: Int,
                        trainWhere: String = ""): String = {
    def kmQv(lo: Int, hi: Int) =
      s"list_transform(embedding[$lo:$hi], x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1048576.0) AS BIGINT))"
    val kmDist = "list_sum(list_transform(list_zip(qv, cv), p -> (p[1] - p[2]) * (p[1] - p[2])))"
    val per = (0 until m).map { j =>
      val lo = j * sub + 1; val hi = lo + sub - 1
      // with a training filter, the TRAIN set (init + Lloyd's rounds)
      // restricts to it — the codebook never sees the appended batch —
      // while encoding (j2) and the query table stay over ALL vectors;
      // init = first ksub BY ID of the train set (the kmeansTrain
      // orderBy(id).limit(k) contract; == `vec_id < ksub` on the dense
      // unfiltered fixture, which the no-filter branch keeps verbatim)
      val trainCte = if (trainWhere.isEmpty) ""
        else s"qt0_$j AS (SELECT * FROM q0_$j WHERE $trainWhere),\n"
      val trainSrc = if (trainWhere.isEmpty) s"q0_$j" else s"qt0_$j"
      val c0 = if (trainWhere.isEmpty)
        s"SELECT CAST(vec_id AS BIGINT) AS cid, qv AS cv FROM q0_$j WHERE vec_id < $ksub"
        else s"SELECT CAST(vec_id AS BIGINT) AS cid, qv AS cv FROM qt0_$j ORDER BY vec_id LIMIT $ksub"
      s"""q0_$j AS (SELECT vec_id, ${kmQv(lo, hi)} AS qv FROM embeddings),
         |${trainCte}c0_$j AS ($c0),
         |j1_$j AS (SELECT vec_id, qv, cid, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY $kmDist, cid) AS rn FROM $trainSrc CROSS JOIN c0_$j),
         |w1_$j AS (SELECT vec_id, qv, cid FROM j1_$j WHERE rn = 1),
         |c1_$j AS ${sqlCentSelect(s"w1_$j", "cid", "cid", sub)},
         |j2_$j AS (SELECT vec_id, qv, cid, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY $kmDist, cid) AS rn FROM q0_$j CROSS JOIN c1_$j),
         |w2_$j AS (SELECT vec_id, cid AS code_$j FROM j2_$j WHERE rn = 1),
         |qt_$j AS (SELECT q.vec_id AS q_id, c.cid, $kmDist AS d FROM (SELECT vec_id, qv FROM q0_$j WHERE vec_id < 10) q CROSS JOIN c1_$j c)""".stripMargin
    }.mkString(",\n")
    val codeJoin = (1 until m).map(j => s"JOIN w2_$j ON w2_$j.vec_id = w2_0.vec_id").mkString(" ")
    val qtJoin = (1 until m).map(j => s"JOIN qt_$j ON qt_$j.cid = s.code_$j AND qt_$j.q_id = qt_0.q_id").mkString(" ")
    s"""$per,
       |codes AS (SELECT w2_0.vec_id, ${(0 until m).map(j => s"code_$j").mkString(", ")} FROM w2_0 $codeJoin),
       |scored AS (SELECT qt_0.q_id, s.vec_id AS c_id, ${(0 until m).map(j => s"qt_$j.d").mkString(" + ")} AS adist
       |  FROM codes s JOIN qt_0 ON qt_0.cid = s.code_0 $qtJoin
       |  WHERE qt_0.q_id <> s.vec_id),
       |r AS (SELECT q_id, c_id, adist, row_number() OVER (PARTITION BY q_id ORDER BY adist, c_id) AS rank FROM scored)""".stripMargin
  }

  /** Hilbert-index replay: one CTE per bit level of the SAME
    * reflect-and-swap recurrence as [[graft.plans.HilbertValue.index]]
    * (the shared SPEC; executions are unrelated — a codegen'd JVM loop
    * vs DuckDB CASE/xor arithmetic, and the unit suite's exhaustive
    * bijectivity + unit-step assertions are the second witness). Ends
    * at CTE `h<bits>` carrying (…, hx, hy, hd).
    */
  private def hilbertSqlCtes(base: String, xExpr: String, yExpr: String, bits: Int): String = {
    val init = s"h0 AS (SELECT *, CAST($xExpr AS BIGINT) AS hx, CAST($yExpr AS BIGINT) AS hy, CAST(0 AS BIGINT) AS hd FROM $base)"
    val lvls = (0 until bits).map { k =>
      val s = 1L << (bits - 1 - k)
      val rx = s"(CASE WHEN (hx & $s) != 0 THEN 1 ELSE 0 END)"
      val ry = s"(CASE WHEN (hy & $s) != 0 THEN 1 ELSE 0 END)"
      s"""h${k + 1} AS (SELECT * REPLACE (
         |  hd + ${s * s} * xor(3 * $rx, $ry) AS hd,
         |  CASE WHEN (hy & $s) = 0 THEN (CASE WHEN (hx & $s) != 0 THEN ${s - 1} - hy ELSE hy END) ELSE hx END AS hx,
         |  CASE WHEN (hy & $s) = 0 THEN (CASE WHEN (hx & $s) != 0 THEN ${s - 1} - hx ELSE hx END) ELSE hy END AS hy) FROM h$k)""".stripMargin
    }
    (init +: lvls).mkString(",\n")
  }

  // deterministic per-doc URL spliced into the fixture text for the
  // text_domains / text_blocklist queries (the fixture carries no URLs;
  // same synthesize-inputs recipe as the mm_* roundtrips). Mirrored
  // into oracle SQL via sqlNoisyUrl below.
  private def noisyUrlText: org.apache.spark.sql.Column =
    concat(col("text"), lit(" read https://www.d"),
      (col("doc_id") % 37).cast(StringType), lit(".example."),
      when(col("doc_id") % 3 === 0, "com")
        .when(col("doc_id") % 3 === 1, "org").otherwise("net"),
      lit("/page/"), col("doc_id").cast(StringType), lit(" now"))
  /** exact-domain blocklist used by text_blocklist (each entry blocks
    * the docs whose (doc_id mod 37, mod 3) residues produce it). */
  val BlockedDomains: Seq[String] =
    Seq("d0.example.com", "d4.example.org", "d8.example.net", "d13.example.org")

  // =================================================================
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    Map[String, (SparkSession, String) => DataFrame](
    // ---- text analysis ----
    "corpus_datasheet" -> { (s, dir) =>
      // the release data card: per-source, per-(source, lang), and
      // whole-corpus volume/duplication stats from ONE grouping-sets scan
      graft.operators.Corpus.datasheet(t(s, dir, "documents"), Seq("source", "lang"))
        .orderBy("source", "lang")
    },
    "arr_hof" -> { (s, dir) =>
      // higher-order array functions over the embedding column, each
      // mirrored by a DuckDB list_* lambda: filter-count, sequential
      // left-fold L1 norm (same fold order -> bit-exact doubles),
      // element-wise zip_with self-sum max
      t(s, dir, "embeddings").select(col("vec_id"),
          size(filter(col("embedding"), x => x > 0f)).cast(LongType).as("n_pos"),
          aggregate(col("embedding"), lit(0.0),
            (acc, x) => acc + abs(x.cast(DoubleType))).as("l1"),
          array_max(zip_with(col("embedding"), reverse(col("embedding")),
            (a, b) => a.cast(DoubleType) + b.cast(DoubleType))).as("max_symsum"))
        .orderBy("vec_id")
    },
    "red_kmv_merged" -> { (s, dir) =>
      // KMV mergeability on real data: whole-corpus distinct estimate
      // from per-source SKETCH STATES ONLY vs the direct estimate —
      // exactly equal by the k-smallest-of-union law; the oracle
      // computes only the direct path, so the hash match proves it
      graft.operators.Sketch.kmvMergeEstimate(t(s, dir, "documents"),
        col("text"), Seq("source"), k = 64)
    },
    "corpus_mix" -> { (s, dir) =>
      // training-mix budgeting: weighted targets over three real
      // sources plus one missing ("curated") that surfaces as pure
      // deficit; src0 is weighted far past its size so rate caps at
      // 1.0 and deficit is non-zero — both branches exercised
      graft.operators.Corpus.mixPlan(t(s, dir, "documents"), "source",
          Seq(("src0", 50L), ("src1", 30L), ("src2", 10L), ("curated", 10L)),
          budget = 100L)
        .orderBy("source")
    },
    "corpus_diversity" -> { (s, dir) =>
      // slice-balance metrics per language: exact-rational Gini
      // impurity and floor-log2-quantized entropy of the source mix —
      // the no-libm integer forms that replay bit-identically
      graft.operators.Corpus.diversity(t(s, dir, "documents"),
          Seq("lang"), "source")
        .orderBy("lang")
    },
    "text_stats" -> { (s, dir) =>
      import TextFunctions._
      t(s, dir, "documents").select(
        col("doc_id"),
        tokenCount(col("text")).as("n_tokens"),
        bpeTokenCount(col("text")).as("n_bpe_tokens"),
        meanTokenLen(col("text")).as("mean_token_len"),
        alphaRatio(col("text")).as("alpha_ratio"),
        qualityScore(col("text")).as("quality"))
        .orderBy("doc_id")
    },
    "text_langid" -> { (s, dir) =>
      import TextFunctions._
      t(s, dir, "documents").select(
        col("doc_id"), col("lang"),
        langId(col("text")).as("lang_pred"))
        .orderBy("doc_id")
    },
    "text_quantiles" -> { (s, dir) =>
      import TextFunctions._
      // per-language doc-length distribution (exact interpolated
      // percentiles; corpus filtering is usually "drop below p05 / above
      // p95"). round(6) absorbs sub-ulp interpolation-formula differences
      // between engines.
      t(s, dir, "documents")
        .groupBy(col("lang"))
        .agg(
          round(percentile(tokenCount(col("text")), lit(0.5)), 6).as("p50"),
          round(percentile(tokenCount(col("text")), lit(0.95)), 6).as("p95"),
          count(lit(1)).as("n"))
        .orderBy("lang")
    },
    "text_topngrams" -> { (s, dir) =>
      // corpus-wide top-k bigrams by DOCUMENT frequency (distinct per
      // doc — the native single-pass kernel): explode → partial/final
      // count agg → TakeOrderedAndProject (never a global sort of the
      // ngram space). The interpreted HOF shingle form costs ~6× more
      // here (transform+concat_ws+slice per bigram outside codegen).
      t(s, dir, "documents")
        .select(explode(graft.plans.ShingleArray(col("text"), 2)).as("ngram"))
        .groupBy("ngram").agg(count(lit(1)).as("n_docs"))
        .orderBy(col("n_docs").desc, col("ngram"))
        .limit(20)
    },
    "text_zipf" -> { (s, dir) =>
      // corpus-law audit: Zipf slope of the top-256 token frequencies —
      // least squares of ilog2(count) on ilog2(rank), every sum exact
      // int64 so the rational slope (then ONE double division) replays
      // bit-identically; the rank window runs over the AGGREGATED
      // vocabulary top slice only, never the corpus
      import org.apache.spark.sql.expressions.Window
      def il(c: org.apache.spark.sql.Column) = (length(bin(c)) - 1).cast(LongType)
      val counts = t(s, dir, "documents")
        .select(explode(graft.functions.TextFunctions.tokens(col("text"))).as("tok"))
        .groupBy("tok").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("tok")).limit(256)
      val ranked = counts
        .withColumn("rank", row_number().over(
          Window.orderBy(col("n").desc, col("tok"))).cast(LongType))
        .select(il(col("rank")).as("x"), il(col("n")).as("y"))
      ranked.agg(count(lit(1)).as("k"), sum(col("x")).as("sx"),
          sum(col("y")).as("sy"), sum(col("x") * col("y")).as("sxy"),
          sum(col("x") * col("x")).as("sxx"))
        .select(col("k"),
          (col("k") * col("sxy") - col("sx") * col("sy")).as("slope_num"),
          (col("k") * col("sxx") - col("sx") * col("sx")).as("slope_den"),
          ((col("k") * col("sxy") - col("sx") * col("sy")).cast(DoubleType) /
            (col("k") * col("sxx") - col("sx") * col("sx"))).as("slope"))
    },
    "text_heaps" -> { (s, dir) =>
      // Heaps'-law audit (text_zipf's growth-curve sibling): cumulative
      // vocabulary V vs cumulative token count n over 16 doc-id-ordered
      // corpus prefixes, slope of ilog2(V) on ilog2(n) by the same
      // exact-integer least squares. New-vocab attribution is each
      // token's FIRST bucket (min over doc ids) — one token scan, two
      // bounded aggregates, windows over the 16-row curve only
      import org.apache.spark.sql.expressions.Window
      def il(c: org.apache.spark.sql.Column) = (length(bin(c)) - 1).cast(LongType)
      val toks = t(s, dir, "documents")
        .select(col("doc_id"),
          explode(graft.functions.TextFunctions.tokens(col("text"))).as("tok"))
      val bounds = toks.agg(min("doc_id").as("lo"), max("doc_id").as("hi"))
      // NOTE (r18, negative result kept for the record): materializing
      // a shared (tok, bucket) count table + the 16-row curve via
      // a local checkpoint to de-duplicate the in-plan subtrees was tried
      // and REVERTED — interleaved A/B measured it 2.05x SLOWER at
      // sf0.1 (0.61 -> 1.25 s, jobs 10 -> 15): the two eager
      // materialization barriers cost more than the duplicated 0.6 MB
      // corpus subtree they saved, and runtime ReuseExchange already
      // dedupes the identical halves. The duplication is a logical-
      // plan-size concern only at this corpus size.
      val eb = toks.crossJoin(broadcast(bounds))
        .select(expr("((doc_id - lo) * 16) div (hi - lo + 1)").as("b"), col("tok"))
      val tc = eb.groupBy("b").agg(count(lit(1)).as("nt"))
      val vc = eb.groupBy("tok").agg(min("b").as("b"))
        .groupBy("b").agg(count(lit(1)).as("nv"))
      val w = Window.orderBy("b")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cum = tc.join(vc, Seq("b"), "left_outer")
        .select(col("b"), col("nt"), coalesce(col("nv"), lit(0L)).as("nv"))
        .select(col("b"), sum(col("nt")).over(w).as("tokens_cum"),
          sum(col("nv")).over(w).as("vocab_cum"))
      val ls = cum
        .select(il(col("tokens_cum")).as("x"), il(col("vocab_cum")).as("y"))
        .agg(count(lit(1)).as("k"), sum(col("x")).as("sx"), sum(col("y")).as("sy"),
          sum(col("x") * col("y")).as("sxy"), sum(col("x") * col("x")).as("sxx"))
        .select((col("k") * col("sxy") - col("sx") * col("sy")).as("slope_num"),
          (col("k") * col("sxx") - col("sx") * col("sx")).as("slope_den"))
      cum.crossJoin(broadcast(ls))
        .select(col("b"), col("tokens_cum"), col("vocab_cum"),
          col("slope_num"), col("slope_den"),
          (col("slope_num").cast(DoubleType) / col("slope_den")).as("slope"))
        .orderBy("b")
    },
    "text_domains" -> { (s, dir) =>
      import TextFunctions._
      // per-domain doc counts — the fixture text carries no URLs, so the
      // query splices a deterministic URL per doc into its text (the
      // synthesize→decode recipe of the mm_* queries); BOTH engines then
      // run their own regex extraction + normalization over the noisy
      // text. Explode → partial/final count, one tiny shuffle.
      t(s, dir, "documents")
        .select(explode(extractDomains(noisyUrlText)).as("domain"))
        .groupBy("domain").agg(count(lit(1)).as("n_docs"))
        .orderBy("domain")
    },
    "text_blocklist" -> { (s, dir) =>
      import TextFunctions._
      // domain blocklist filter over the same synthesized noisy text:
      // per-row array overlap against the literal blocklist — no shuffle
      t(s, dir, "documents").withColumn("text", noisyUrlText)
        .transform(filterBlockedDomains(_, BlockedDomains))
        .select("doc_id").orderBy("doc_id")
    },
    "text_blocklist_join" -> { (s, dir) =>
      import TextFunctions._
      // the same filter with the blocklist as a TABLE (the
      // million-row-blocklist form): explode → broadcast semi join →
      // anti join on the doc key. Oracle replays it as a NOT IN
      // anti-join — same keep set as text_blocklist.
      import s.implicits._
      val bl = BlockedDomains.toDF("domain")
      t(s, dir, "documents").withColumn("text", noisyUrlText)
        .transform(filterBlockedDomains(_, bl))
        .select("doc_id").orderBy("doc_id")
    },
    "ev_gapfill" -> { (s, dir) =>
      // time-series gap filling: per-user 5-min spine between first and
      // last event, left join counts, zero-fill. The spine is generated in
      // TWO levels — day starts first, then ≤288 five-minute buckets
      // within each day — so no row ever materializes more than a day's
      // array, however long a user's [first, last] range is (a single
      // flat sequence(b0, b1, 300) holds ~315k elements in one row for a
      // 3-year user: an executor-OOM shape at corpus scale).
      val day = 86400L
      val ev = t(s, dir, "events")
        .select(col("user_id"),
          (floor(unix_timestamp(col("ts")).cast(DoubleType) / 300) * 300)
            .cast(LongType).as("bucket"))
      val counts = ev.groupBy(col("user_id"), col("bucket")).agg(count(lit(1)).as("n"))
      val ranges = ev.groupBy(col("user_id"))
        .agg(min(col("bucket")).as("b0"), max(col("bucket")).as("b1"))
      // all values are 300-aligned and day = 288×300, so the per-day
      // unions reproduce sequence(b0, b1, 300) element-for-element
      val days = ranges.select(col("user_id"), col("b0"), col("b1"),
        explode(sequence(col("b0") - pmod(col("b0"), lit(day)), col("b1"), lit(day)))
          .as("day0"))
      val spine = days.select(col("user_id"),
        explode(sequence(
          greatest(col("day0"), col("b0")),
          least(col("day0") + (day - 300L), col("b1")),
          lit(300L))).as("bucket"))
      spine.join(counts, Seq("user_id", "bucket"), "left")
        .select(col("user_id"), col("bucket"), coalesce(col("n"), lit(0L)).as("n"))
        .orderBy("user_id", "bucket")
    },
    // ---- behavioral analytics (funnel / retention / transitions / interpolate) ----
    "ev_funnel" -> { (s, dir) =>
      Behavior.funnel(t(s, dir, "events"), Seq("view", "click", "purchase"))
    },
    "ev_stationary" -> { (s, dir) =>
      // long-run state occupancy of the behavior Markov chain: 3
      // integer-scaled power iterations over the transition counts —
      // bit-exact (the pagerank determinism recipe), oracle unrolls
      // the same arithmetic
      Behavior.stationaryDist(Behavior.transitions(t(s, dir, "events")),
          iters = 3)
        .orderBy("state")
    },
    "ev_stationary_relabel" -> { (s, dir) =>
      // NON-REPLAY witness for ev_stationary: relabeling equivariance.
      // States are pushed through a bijection (string reversal) BEFORE
      // transitions + power iteration and mapped back after; the oracle
      // is the plain original-label unrolling (ev_stationary's SQL
      // verbatim), so any label-order or hash-order dependence in the
      // engine's iteration — a bug class the replay oracle can never
      // see — diverges loudly here.
      val ev = t(s, dir, "events")
        .withColumn("event_type", reverse(col("event_type")))
      Behavior.stationaryDist(Behavior.transitions(ev), iters = 3)
        .select(reverse(col("state")).as("state"), col("pi"))
        .orderBy("state")
    },
    "ev_funnel_window" -> { (s, dir) =>
      // conversion-window funnel: click and purchase only count within
      // 24h of the user's FIRST view (first-anchor semantics, exact
      // int64-microsecond window arithmetic)
      Behavior.funnelWindowed(t(s, dir, "events"),
        Seq("view", "click", "purchase"), windowSeconds = 86400L)
    },
    "ev_retention" -> { (s, dir) =>
      Behavior.retention(t(s, dir, "events")).orderBy("cohort_week", "week_offset")
    },
    "ev_anomaly" -> { (s, dir) =>
      // rolling z-score outlier gate, cross-multiplied to pure int64 on
      // centi-units: (n*x - s1)^2 > z^2*(n*s2 - s1^2) over the 5
      // PRECEDING events per user — no sqrt, no float mean, so the
      // verdict replays bit-exactly in the oracle's window SQL
      Behavior.anomalies(t(s, dir, "events"), k = 5, z = 3)
        .orderBy("user_id", "event_id")
    },
    "ev_acf" -> { (s, dir) =>
      // per-user autocorrelation at lags 1..3: is the metric stream
      // white noise, sticky, or periodic? n²-cross-multiplied
      // deviations (d = n·x − Σx exact int64), D38 product sums, one
      // IEEE division per (user, lag) — bit-replayable at any
      // partitioning; one window sort per user computes all 3 leads
      Behavior.autocorrelation(t(s, dir, "events"), maxLag = 3)
        .orderBy("user_id", "lag")
    },
    "ev_trend" -> { (s, dir) =>
      // windowed Mann–Kendall drift monitor: pairwise sign trend over
      // each user's 16 most recent events (bounded k² work per user),
      // tie-corrected 18·Var exact int64, trend = S/√(Var) as a fixed
      // double tree
      Behavior.mannKendallRecent(t(s, dir, "events"), k = 16)
        .orderBy("user_id")
    },
    "ev_ewma" -> { (s, dir) =>
      // per-user exponential smoother, α = 1/5: chronological left
      // fold per key (aggregate HOF), rational-coefficient step
      // (x + 4·acc)/5 so the IEEE sequence replays bit-exactly in the
      // oracle's list_reduce
      Behavior.ewmaLast(t(s, dir, "events"), aNum = 1L, aDen = 5L)
        .orderBy("user_id")
    },
    "ev_attribution" -> { (s, dir) =>
      // first/last-touch credit for each purchase; error events are
      // deliberately NOT touches (conversions with only errors before
      // them attribute to NULL = "direct")
      Behavior.attribution(t(s, dir, "events"), conversionType = "purchase",
          touchTypes = Seq("view", "click", "signup"))
        .orderBy("event_id")
    },
    "ev_transitions" -> { (s, dir) =>
      Behavior.transitions(t(s, dir, "events")).orderBy("prev_type", "next_type")
    },
    "ev_interpolate" -> { (s, dir) =>
      // deterministic mask (id % 7 == 0 → missing) replayed identically
      // in the oracle; output = the reconstructed rows only
      val masked = t(s, dir, "events").withColumn("value",
        when(pmod(col("event_id"), lit(7L)) =!= 0L, col("value")))
      Behavior.interpolate(masked, "value")
        .filter(pmod(col("event_id"), lit(7L)) === 0L)
        .select("event_id", "user_id", "value").orderBy("event_id")
    },
    "ev_cusum" -> { (s, dir) =>
      // sequential changepoint detection: one-sided CUSUM per user in
      // exact centi-int64 via the prefix-min identity (no stateful
      // fold — two running windows over one shuffle); alarms replay
      // bit-identically
      Behavior.cusum(t(s, dir, "events"), kCenti = 5000L, hCenti = 20000L)
        .select(col("event_id"), col("user_id"), col("cusum_c"), col("alarm"))
        .orderBy("event_id")
    },
    "ev_ohlc" -> { (s, dir) =>
      // hourly OHLC bars over the event metric: one bucket-keyed
      // aggregate, argmin/argmax over the total (ts, event_id) order
      Behavior.resampleOhlc(t(s, dir, "events"), date_trunc("hour", col("ts")))
    },
    "eval_auc" -> { (s, dir) =>
      // exact ROC-AUC of "value predicts purchase" via the midrank
      // Mann–Whitney rank-sum: one domain-bounded distinct-score
      // window, decimal rank sums, a single double division
      graft.operators.Eval.auc(t(s, dir, "events"),
        col("value"), col("event_type") === "purchase")
    },
    "eval_auc_ci" -> { (s, dir) =>
      // Poisson-bootstrap band around the exact AUC: weighted midrank
      // rank-sums per replica over the same bounded score domain, the
      // eval_brier_ci threshold-table weights — fully deterministic
      graft.operators.Eval.aucBootstrapCi(t(s, dir, "events"),
        col("value"), col("event_type") === "purchase",
        col("event_id"), reps = 32)
    },
    "eval_auc_ci_witness" -> { (s, dir) =>
      // NON-REPLAY witness for eval_auc_ci (VERDICT r15 #7): replica-
      // weight INVARIANCE under a planted constant score. With one
      // distinct score bucket the midrank rank-sum collapses to a
      // closed form — auc = P·N/(2·P·N) = 1/2 — and the SAME collapse
      // holds inside every Poisson replica (P_b·N_b/(2·P_b·N_b)), so
      // auc and BOTH band ends are exactly 0.5 for ANY weight
      // realization, replica count, or label mix. Every step is an
      // exact IEEE quotient (the products stay < 2^53), so the oracle
      // states three literals plus independent label counts and shares
      // ZERO arithmetic with the operator: no midranks, no Poisson
      // thresholds, no prefix window, no bootstrap. A normalization
      // bug in the rank-sum (e.g. 2r+cnt for 2r+cnt+1) or weight/label
      // cross-contamination moves the result off 0.5 and fails here
      // while the replaying eval_auc_ci oracle would follow it.
      graft.operators.Eval.aucBootstrapCi(t(s, dir, "events"),
        lit(3.0), col("event_type") === "purchase",
        col("event_id"), reps = 32)
    },
    "eval_pr" -> { (s, dir) =>
      // precision-recall curve: one point per distinct centi score
      // (descending threshold), exact cumulative tp/fp — the curve
      // face of eval_auc over the same bounded domain frame
      graft.operators.Eval.prCurve(t(s, dir, "events"),
        col("value"), col("event_type") === "purchase")
    },
    "eval_logloss" -> { (s, dir) =>
      // quantized binary cross-entropy via the shared 999-entry
      // integer -log2 table (the ndcgWeights pattern): milli-clamped
      // probs, pure table lookups, one exact integer sum
      graft.operators.Eval.logLoss(t(s, dir, "events"),
        col("value") / lit(512d), col("event_type") === "purchase")
    },
    "eval_ks" -> { (s, dir) =>
      // Kolmogorov-Smirnov separation of the purchase/non-purchase
      // score distributions: exact max |tp*N - fp*P| over the distinct
      // centi thresholds, packed argmax, one double division
      graft.operators.Eval.ks(t(s, dir, "events"),
        col("value"), col("event_type") === "purchase")
    },
    "eval_ece" -> { (s, dir) =>
      // expected calibration error with an exact integer numerator
      // over the same milli-quantized 10-bin layout as eval_calibration
      graft.operators.Eval.calibrationError(t(s, dir, "events"),
        col("value") / lit(512d), col("event_type") === "purchase")
    },
    "eval_brier" -> { (s, dir) =>
      // Brier score of prob = value/512 vs purchase: exact integer
      // squared-error sum, one double division
      graft.operators.Eval.brier(t(s, dir, "events"),
        col("value") / lit(512d), col("event_type") === "purchase")
    },
    "eval_brier_ci" -> { (s, dir) =>
      // deterministic Poisson-bootstrap 2.5/97.5% band around the Brier
      // point estimate: per-(event, replica) weights from the md5-28-bit
      // inverse-CDF threshold table — RNG-free, so the whole CI replays
      // in the oracle (32 replicas → the band is the replica min/max)
      graft.operators.Eval.brierBootstrapCi(t(s, dir, "events"),
        col("value") / lit(512d), col("event_type") === "purchase",
        col("event_id"), reps = 32)
    },
    "eval_calibration" -> { (s, dir) =>
      // reliability diagram of prob = value/512 (exact power-of-two
      // division) vs observed purchase rate: milli-quantized probs,
      // integer bin assignment, 10 bins
      graft.operators.Eval.calibration(t(s, dir, "events"),
        col("value") / lit(512d), col("event_type") === "purchase")
    },
    "eval_confusion" -> { (s, dir) =>
      // confusion + precision/recall/F1 at centi threshold 25000
      // (value >= 250): quantized compare, exact-count rates
      graft.operators.Eval.confusion(t(s, dir, "events"),
        col("value"), col("event_type") === "purchase", 25000L)
    },
    "eval_lift_ci" -> { (s, dir) =>
      // A/B readout at the documented assignment unit (users): variant
      // = md5 parity of user_id, conversion = any purchase; the
      // deterministic Poisson bootstrap band replays in the oracle
      // (32 replicas → replica min/max)
      val users = t(s, dir, "events").groupBy(col("user_id"))
        .agg(max(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("converted"))
      graft.operators.Eval.liftBootstrapCi(users,
        graft.plans.HashBucket(col("user_id").cast(StringType), 2) === 1L,
        col("converted") === 1L, col("user_id"), reps = 32)
    },
    "eval_lift_witness" -> { (s, dir) =>
      // NON-REPLAY witness for eval_lift_ci (the ev_holt_ramp
      // pattern): with ARM-CONSTANT outcomes, a resampled conversion
      // rate Σw·y/Σw is invariant under ANY bootstrap weights, so the
      // whole percentile band collapses to the planted point — the
      // oracle states closed-form constants and never touches md5,
      // the Poisson table, or the bootstrap. Two planted scenarios:
      // 'killed' (control always converts, treatment never → lift 0,
      // band exactly [0,0] in every replica) and 'unit' (both arms
      // always convert → lift 1, band [1,1]). An arm-assignment flip,
      // an inverted lift ratio, a wrong replica-drop rule (_cb
      // instead of _ca), or a percentile-index defect all break the
      // planted constants.
      val base = t(s, dir, "customer")
        .select(col("c_custkey").as("id"), (col("c_custkey") % 2 === 0).as("tr"))
      def w(conv: org.apache.spark.sql.Column, name: String) =
        graft.operators.Eval.liftBootstrapCi(
          base.withColumn("y", conv), col("tr"), col("y"), col("id"), reps = 32)
          .select(lit(name).as("scenario"), col("n_a"), col("n_b"),
            col("conv_a"), col("conv_b"), col("lift"), col("ci_lo"), col("ci_hi"))
      w(!col("tr"), "killed").unionByName(w(lit(true), "unit"))
        .orderBy("scenario")
    },
    "eval_mcc" -> { (s, dir) =>
      // Matthews correlation at eval_confusion's centi threshold —
      // the imbalance-robust single number (F1 ignores true
      // negatives); exact D38 products, one multiply/sqrt/divide tree
      graft.operators.Eval.mcc(t(s, dir, "events"),
        col("value"), col("event_type") === "purchase", 25000L)
    },
    "eval_kappa" -> { (s, dir) =>
      // Cohen's kappa between eval_confusion's centi-threshold
      // predictor and the purchase label — chance-corrected agreement
      // as exact D38 marginal products into one final division; the
      // inter-annotator agreement operator applied to the
      // prediction-vs-truth face the fixture supports
      graft.operators.Eval.cohensKappa(t(s, dir, "events"),
        floor(col("value").cast(DoubleType) * 100d + 0.5d) >= 25000L,
        col("event_type") === "purchase")
    },
    "eval_silhouette" -> { (s, dir) =>
      // simplified (centroid) silhouette of the pinned fixture
      // clustering — cluster-quality audit on dedup_semantic's exact
      // quantized-mean centroids: int64 squared distances, per-point
      // s quantized to 2^-20 BEFORE the order-free per-cluster mean
      graft.operators.Eval.clusterSilhouette(t(s, dir, "embeddings"), "label")
        .orderBy("cluster")
    },
    "eval_db_index" -> { (s, dir) =>
      // Davies–Bouldin worst-ratio per cluster on the same pinned
      // clustering: which clusters blur together — scatter and
      // separation through the silhouette family's quantized trees,
      // all pair work on k-row frames
      graft.operators.Eval.daviesBouldin(t(s, dir, "embeddings"), "label")
        .orderBy("cluster")
    },
    "eval_conformal" -> { (s, dir) =>
      // split-conformal interval at α = 1/10: prediction = value,
      // actual = prediction + deterministic md5-bucket noise in
      // [-50, 50] centi — the q̂ rank is pure integer arithmetic, the
      // calibration/test split the md5-parity bucket, so the whole
      // audit replays engine-exactly
      val ev = t(s, dir, "events")
      val idStr = col("event_id").cast(StringType)
      val predC = floor(col("value").cast(DoubleType) * 100d + 0.5d)
      val actual = (predC +
        graft.plans.HashBucket(concat(idStr, lit("_a")), 101) - 50L) / lit(100.0d)
      graft.operators.Eval.splitConformal(ev,
        col("value"), actual,
        graft.plans.HashBucket(idStr, 2) === 0L,
        alphaNum = 1L, alphaDen = 10L)
    },
    "eval_conformal_witness" -> { (s, dir) =>
      // NON-REPLAY witness for eval_conformal (VERDICT r15 #7):
      // constant-residual closed form. actual = (⌊value·100+0.5⌋+37)/100
      // makes BOTH quantizations exact integers 37 centi apart, so
      // every |residual| is EXACTLY 37 — then q̂ = 37 for ANY
      // calibration size (the single residual class's cumulative count
      // is n_cal ≥ rank, which holds for α=1/10 whenever n_cal ≥ 9)
      // and coverage = 1.0 exactly (every test residual ≤ q̂). The
      // split is plain event_id parity, so the oracle's only data work
      // is two counts: zero rank arithmetic, no cumulative window, no
      // ceil-division — an off-by-one in the q̂ rank or a </>≤ slip in
      // the coverage comparison fails here while the replaying
      // eval_conformal oracle would follow it.
      val predC = floor(col("value").cast(DoubleType) * 100d + 0.5d)
      graft.operators.Eval.splitConformal(t(s, dir, "events"),
        col("value"), (predC + lit(37d)) / lit(100d),
        col("event_id") % 2 === 0, alphaNum = 1L, alphaDen = 10L)
    },
    "ev_holt" -> { (s, dir) =>
      // Holt level+trend smoothing per user (α=2/10, β=3/10): the
      // trending-metric sibling of ev_ewma, same rational-coefficient
      // fold determinism; oracle replays the recursion per user
      Behavior.holtLast(t(s, dir, "events"), 2, 10, 3, 10)
        .orderBy("user_id")
    },
    "ev_holt_ramp" -> { (s, dir) =>
      // NON-REPLAY witness for ev_holt: on an exactly linear series
      // Holt's recursion is a FIXPOINT — level ends at the last ramp
      // value and trend at the slope, for any smoothing constants
      // (dyadic 1/2 here so every IEEE step is exact on integer
      // values). The ramp is built deterministically from events
      // (value = user_id%50 + (user_id%7+1)·t over the per-user
      // (ts, event_id) order); the oracle computes the CLOSED FORM
      // base + slope·n and never runs the recursion, so an init /
      // slice / association bug shared with the ev_holt replay oracle
      // fails here.
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy("ts", "event_id")
      val ramp = t(s, dir, "events")
        .select(col("user_id"), col("ts"), col("event_id"))
        .withColumn("_t", row_number().over(w).cast(LongType))
        .withColumn("value",
          (col("user_id") % 50 + (col("user_id") % 7 + 1) * col("_t"))
            .cast(DoubleType))
      Behavior.holtLast(ramp, 1, 2, 1, 2).orderBy("user_id")
    },
    "ev_seasonal_outliers" -> { (s, dir) =>
      // composition: the 20 events most anomalous GIVEN their
      // time-of-day (largest |seasonal residual|) — deseasonalize,
      // then TakeOrdered on the exact-replay residual
      Behavior.seasonalDecompose(
          t(s, dir, "events").select(col("event_id"), col("ts"), col("value")),
          "value", hour(col("ts")).cast(LongType), keyName = "hr")
        .select(col("event_id"), col("hr"), col("value"), col("residual"))
        .orderBy(abs(col("residual")).desc, col("event_id"))
        .limit(20)
    },
    "ev_top_paths" -> { (s, dir) =>
      // path analysis: the 15 most frequent 3-step event sequences
      // across user journeys — one lead-window pass builds the
      // trigrams (no self-joins), TakeOrdered bounds the ranking
      Behavior.topPaths(t(s, dir, "events"), k = 3, topN = 15)
    },
    "ev_seasonal" -> { (s, dir) =>
      // seasonal-naive decomposition: hour-of-day mean (exact decimal
      // sum / count) broadcast back, residual per event — the
      // is-this-spike-real-or-just-9am contextualizer
      Behavior.seasonalDecompose(
          t(s, dir, "events").select(col("event_id"), col("ts"), col("value")),
          "value", hour(col("ts")).cast(LongType), keyName = "hr")
        .select(col("event_id"), col("hr"), col("value"),
          col("seasonal"), col("residual"))
        .orderBy("event_id")
    },
    "ev_intervals" -> { (s, dir) =>
      // per-user union of 5-minute exposure windows around each event:
      // overlapping/touching intervals merge into maximal islands;
      // coverage counts overlap once. Exact int64 µs arithmetic.
      val iv = t(s, dir, "events").select(col("user_id"), col("ts").as("s"),
        timestamp_micros(unix_micros(col("ts")) + lit(300000000L)).as("e"))
      Behavior.intervalCoverage(iv, "user_id", "s", "e").orderBy("user_id")
    },
    // ---- feature engineering (one-hot / hashing trick / z-score / histogram) ----
    "feat_onehot" -> { (s, dir) =>
      val oh = Features.oneHot(t(s, dir, "customer"), "c_mktsegment")
      val hot = oh.columns.filter(_.startsWith("is_")).sorted
      oh.select("c_custkey", hot: _*).orderBy("c_custkey")
    },
    "feat_hashing" -> { (s, dir) =>
      Features.hashingTrick(t(s, dir, "documents"), 64).orderBy("doc_id", "dim")
    },
    "feat_scale" -> { (s, dir) =>
      Features.standardize(t(s, dir, "customer"), "c_acctbal", Seq("c_mktsegment"))
        .select("c_custkey", "c_mktsegment", "zscore").orderBy("c_custkey")
    },
    "red_histogram" -> { (s, dir) =>
      Features.histogram(t(s, dir, "lineitem"), "l_extendedprice", 20).orderBy("bin")
    },
    "feat_mutual_info" -> { (s, dir) =>
      // feature-selection MI between language and source in the same
      // floor-log2 quantization as the entropy/PMI family — one scan
      // to the contingency table, marginals re-aggregate that frame
      Features.mutualInfo(t(s, dir, "documents"), "lang", "source")
    },
    "feat_cramers_v" -> { (s, dir) =>
      // χ²/Cramér's V on feat_mutual_info's exact contingency frame —
      // the [0,1]-normalized association a feature-selection sweep
      // ranks by across pairs of different cardinality; per-cell
      // contributions floor-quantized to 2^-20 before the order-free
      // integer sum, one hardware sqrt at the end
      Features.cramersV(t(s, dir, "documents"), col("lang"), col("source"))
    },
    "red_weighted_quantile" -> { (s, dir) =>
      // revenue-weighted median and p90 QUANTITY per return flag ("the
      // order size below which half the revenue sits") — type-1 (lower)
      // quantile, rational-q integer threshold, decimal-exact cumulative
      // weights (no IEEE sum ordering). The VALUE column is the bounded
      // one (l_quantity, ~50 distinct) per the value-counting contract —
      // the distinct-value window must walk a domain, not the corpus.
      val li = t(s, dir, "lineitem")
      Quantile.weightedQuantile(li, "l_returnflag", "l_quantity",
          "l_extendedprice", 1, 2, outCol = "w_median")
        .join(Quantile.weightedQuantile(li, "l_returnflag", "l_quantity",
          "l_extendedprice", 9, 10, outCol = "w_p90"), "l_returnflag")
        .orderBy("l_returnflag")
    },
    "profile_ks2" -> { (s, dir) =>
      // numeric drift: two-sample KS distance between purchase and
      // view value distributions — sup ECDF gap cross-multiplied to
      // exact integers over the distinct-centi-value union, one final
      // division; the numeric sibling of profile_psi
      val ev = t(s, dir, "events")
      Validate.ksTwoSample(
        ev.filter(col("event_type") === "purchase"),
        ev.filter(col("event_type") === "view"), "value")
    },
    "red_gini" -> { (s, dir) =>
      // spend-concentration audit: exact Gini of event value per type
      // — rank-weighted sums from the value-counting frame (centi
      // domain bounded), one division per group
      Quantile.giniCoefficient(t(s, dir, "events"), "event_type", "value")
        .orderBy("event_type")
    },
    "red_trimmed_mean" -> { (s, dir) =>
      // 10%-trimmed mean QUANTITY per return flag — the robust location
      // between mean and median; rank-window kept-mass per distinct
      // value, pure integer clamps, one division per group. The value
      // column is the bounded one (l_quantity, ~50 distinct) per the
      // value-counting contract, as red_weighted_quantile
      Quantile.trimmedMean(t(s, dir, "lineitem"), "l_returnflag",
          "l_quantity", trimNum = 1L, trimDen = 10L)
        .orderBy("l_returnflag")
    },
    "feat_rank_normalize" -> { (s, dir) =>
      // quantile-transform feature: per-segment percent rank of the
      // account balance as a [0,1] feature, via the VALUE-COUNTING
      // formulation (window over distinct values only, broadcast back)
      // — no per-group corpus sort; oracle uses the native percent_rank
      // window, proving the formulations identical
      val c = t(s, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"))
      val pr = Quantile.percentRankOfValues(c, "c_mktsegment", "c_acctbal")
      c.join(broadcast(pr), Seq("c_mktsegment", "c_acctbal"))
        .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"),
          col("pr").as("rank_norm"))
        .orderBy("c_custkey")
    },
    "feat_target_encode" -> { (s, dir) =>
      // leakage-safe (leave-one-out) target mean encoding: exact cents
      // arithmetic, one division per row, NULL for singleton classes
      Features.targetEncode(
          t(s, dir, "customer").select(col("c_custkey"), col("c_mktsegment"),
            col("c_acctbal")),
          catCol = "c_mktsegment", targetCol = "c_acctbal")
        .orderBy("c_custkey")
    },
    "feat_robust" -> { (s, dir) =>
      // per-language median/MAD outlier flag on document length —
      // robust to the very outliers it hunts (unlike mean/stddev);
      // type-1 medians, pure integer test |v-med| > 3*mad
      Features.robustOutliers(
          t(s, dir, "documents").select(col("doc_id"), col("lang"), col("n_chars")),
          "lang", "n_chars", k = 3)
        .select(col("doc_id"), col("lang"), col("n_chars"),
          col("med"), col("mad"), col("is_outlier"))
        .orderBy("doc_id")
    },
    "feat_discretize" -> { (s, dir) =>
      // per-language equi-depth quartiles of document length — ntile
      // semantics made tie-deterministic via cume_dist (see
      // Quantile.equiDepthBin: value-counting, corpus never sorted)
      Quantile.equiDepthBin(
          t(s, dir, "documents").select(col("doc_id"), col("lang"), col("n_chars")),
          "lang", "n_chars", k = 4)
        .orderBy("doc_id")
    },
    "sel_skyline" -> { (s, dir) =>
      Skyline.skyline2(t(s, dir, "orders"), "o_totalprice", "o_orderdate")
        .orderBy("x", "y")
    },
    "dedup_fuzzy" -> { (s, dir) =>
      Dedup.fuzzyPairs(
        t(s, dir, "customer").select(col("c_custkey").as("id"), col("c_name").as("name")),
        maxDist = 1)
        .orderBy("id_a", "id_b")
    },
    "dedup_fuzzy_chunked" -> { (s, dir) =>
      // the SAME edit-distance self-join executed as bounded-footprint
      // waves (the out-of-core / 100 TB shape): candidate space
      // partitioned by pmod(variant hash, passes), staged wave
      // outputs, identical pair set — certified against the identical
      // oracle as dedup_fuzzy (same pattern as dedup_prefix_chunked)
      // wave count is a pure execution knob (result identical by
      // construction at ANY value — pinned by the equivalence test),
      // derived from the input size (r17 — see autoPasses)
      val passes = autoPasses(s, dir, "customer", 256L << 20)
      // land the final pair set to its OWN parquet so the wave staging
      // can be reclaimed NOW — landed as FILES, not a local checkpoint:
      // an eager checkpoint materializes the result as deserialized
      // JVM rows, and at the sf100 rehearsal the ~10⁸-pair result
      // OOMed the heap on block re-read; a parquet write streams.
      // Keyed per (query, dir) so re-entry reclaims the previous
      // result dir (ADVICE r15: the landing itself must not become
      // the unbounded /tmp accumulation it exists to prevent).
      val out = Scratch.landing(s, s"dedup_fuzzy_chunked|$dir")
      Scratch.using(s, "graft-fuzzy-gate") { staging =>
        land(Dedup.fuzzyPairsChunked(
            t(s, dir, "customer").select(col("c_custkey").as("id"), col("c_name").as("name")),
            maxDist = 1, passes = passes, stagingDir = staging), out)
      }.orderBy("id_a", "id_b")
    },
    "dedup_fuzzy_witness" -> { (s, dir) =>
      // NON-REPLAY witness for the fuzzy family (the planted-literal
      // pattern of arr_pca_witness / graph_pagerank_witness): six
      // planted keys over customers 1..6 — an exact dup, two
      // substitutions, a deletion chain, and a TRANSPOSITION
      // ("graft-x041" vs "graft-0x41", lev 2) that SHARES a deletion
      // variant at different positions — the spurious class the d=1
      // position-annotated route never admits and the generic route
      // admits-then-discards; either way it must be ABSENT. The
      // complete ≤1-edit pair set is stated as literals in the
      // oracle: no levenshtein, no variant arithmetic on the oracle
      // side (the dedup_fuzzy oracle, while independent SQL, still
      // replays levenshtein — a shared misunderstanding of edit
      // distance would be replayed with it). n_src pins the fixture
      // shape independently.
      val keys = t(s, dir, "customer").filter(col("c_custkey").between(1, 6))
        .select(col("c_custkey").cast(LongType).as("id"),
          element_at(array(lit("graft-0x41"), lit("graft-0x42"),
            lit("graft-0x4"), lit("graft-x041"), lit("graft-0x41"),
            lit("zzz")), col("c_custkey").cast(IntegerType)).as("name"))
      Dedup.fuzzyPairs(keys, maxDist = 1)
        .crossJoin(broadcast(keys.agg(count(lit(1)).as("n_src"))))
        .orderBy("id_a", "id_b")
    },
    "join_fuzzy" -> { (s, dir) =>
      // record linkage: canonical customer registry vs a dirty copy
      // (6th character deleted, ids offset) — best levenshtein-≤1
      // match per left record via complete deletion-neighborhood
      // blocking; the oracle is an independent brute-force cross join
      val cust = t(s, dir, "customer")
      val left = cust.select(col("c_custkey").as("id"), col("c_name").as("name"))
      val right = cust.select((col("c_custkey") + 1000000L).as("id"),
        concat(substring(col("c_name"), 1, 5), substring(col("c_name"), 7, 1000))
          .as("name"))
      Dedup.fuzzyJoin(left, right, maxDist = 1).orderBy("id_l")
    },
    "text_filter_quantile" -> { (s, dir) =>
      import TextFunctions._
      // the filtering step text_quantiles informs: keep docs inside the
      // per-language [p05, p95] length band. percent_rank (= exact
      // (rank-1)/(n-1) rational) makes the band edge engine-deterministic
      // where an interpolated-quantile threshold comparison would not be.
      // Computed by VALUE COUNTING (Quantile.percentRankBand): the only
      // window runs over each language's distinct token counts (value
      // domain, constant in corpus size), and the tiny (lang, value, pr)
      // table broadcasts back — no per-language corpus sort. Replaces
      // the rounds-3..7 weak-for-scale percent_rank window with the SAME
      // exact semantics (parity-tested in CurationSpec).
      val docs = t(s, dir, "documents").select(col("doc_id"), col("lang"),
        tokenCount(col("text")).as("n_tokens"))
      Quantile.percentRankBand(docs, "lang", "n_tokens", 0.05, 0.95)
        .orderBy("doc_id")
    },
    "text_filter_thresholds" -> { (s, dir) =>
      import TextFunctions._
      // the SCALE-SAFE formulation of the same band filter: per-language
      // p05/p95 thresholds from a tiny percentile AGGREGATE (partial/
      // final, shuffles |langs| rows) broadcast back as a filter — no
      // per-language window, so the dominant language of a real corpus
      // never funnels through one task's sort. round(6) on both engines
      // absorbs sub-ulp interpolation differences; thresholds are exact-
      // math rationals far coarser than 1e-6, so rounding is stable.
      // Band-edge semantics differ from percent_rank by at most the
      // interpolated endpoints — text_filter_quantile remains the exact-
      // band reference.
      val docs = t(s, dir, "documents").select(col("doc_id"), col("lang"),
        tokenCount(col("text")).as("n_tokens"))
      val th = docs.groupBy(col("lang")).agg(
        round(percentile(col("n_tokens"), lit(0.05)), 6).as("lo"),
        round(percentile(col("n_tokens"), lit(0.95)), 6).as("hi"))
      docs.join(broadcast(th), Seq("lang"))
        .filter(col("n_tokens") >= col("lo") && col("n_tokens") <= col("hi"))
        .select("doc_id", "lang", "n_tokens")
        .orderBy("doc_id")
    },
    "text_chunks" -> { (s, dir) =>
      // overlapping context-window chunking (window 32, stride 16):
      // narrow generate-side op, no shuffle — output ~2× corpus tokens
      Pack.chunkTokens(t(s, dir, "documents"), window = 32, stride = 16)
        .orderBy("doc_id", "chunk_idx")
    },
    "text_repetition" -> { (s, dir) =>
      import TextFunctions._
      // Gopher-style repeated-content signals, one native pass per row
      t(s, dir, "documents")
        .select(col("doc_id"), repetitionStats(col("text")).as("r"))
        .select(col("doc_id"), col("r.n_tokens").as("n_tokens"),
          col("r.dup_token_frac").as("dup_token_frac"),
          col("r.top_bigram_frac").as("top_bigram_frac"),
          col("r.dup_bigram_frac").as("dup_bigram_frac"))
        .orderBy("doc_id")
    },
    "text_fingerprint" -> { (s, dir) =>
      import TextFunctions._
      t(s, dir, "documents").select(
        col("doc_id"),
        fingerprintMd5(col("text")).as("fp_md5"),
        fingerprintRolling(col("text")).as("fp_roll"))
        .orderBy("doc_id")
    },

    // ---- dedup ----
    "dedup_exact" -> { (s, dir) =>
      Dedup.exact(t(s, dir, "documents")).orderBy("fp")
    },
    "dedup_minhash_sig" -> { (s, dir) =>
      Dedup.minhashSignatures(t(s, dir, "documents")).orderBy("doc_id")
    },
    "dedup_minhash_pairs" -> { (s, dir) =>
      Dedup.minhashPairs(t(s, dir, "documents"), threshold = 0.3)
        .orderBy("id_a", "id_b")
    },
    "dedup_simhash" -> { (s, dir) =>
      Dedup.simhash(t(s, dir, "documents")).orderBy("doc_id")
    },
    "dedup_simhash_pairs" -> { (s, dir) =>
      Dedup.simhashPairs(t(s, dir, "documents"), maxDist = 3)
        .orderBy("id_a", "id_b")
    },
    "dedup_ngram_pairs" -> { (s, dir) =>
      // exact bigram jaccard over LSH-generated candidates (scale route;
      // never an all-pairs join within an unbounded block)
      Dedup.ngramJaccardPairs(t(s, dir, "documents"), n = 2, threshold = 0.5)
        .orderBy("id_a", "id_b")
    },
    "dedup_embedding" -> { (s, dir) =>
      // sign-LSH bucket candidates + exact cosine verify. nBits=0 →
      // autoBits(n, 256): bucket count tracks the corpus so per-bucket
      // occupancy (and thus candidate work per row) stays ~constant at
      // ANY sf — the pinned nBits=6 this replaced measured 25.9× on the
      // 10× sf10 rehearsal (in-bucket quadratic growth). The oracle
      // replays the same integer bit-length formula in SQL.
      Dedup.embeddingNearDup(t(s, dir, "embeddings"), threshold = 0.3)
        .orderBy("id_a", "id_b")
    },
    "dedup_prefix_pairs" -> { (s, dir) =>
      // the COMPLETE-recall route at the same (n=2, t=1/2) operating
      // point as dedup_ngram_pairs' LSH candidates: prefix filtering
      // guarantees every qualifying pair is found (superset asserted
      // in the unit suite); rational threshold arithmetic throughout
      Dedup.prefixJaccardPairs(t(s, dir, "documents"), n = 2, tNum = 1, tDen = 2)
        .orderBy("id_a", "id_b")
    },
    "dedup_prefix_chunked" -> { (s, dir) =>
      // the SAME exact join executed as 4 bounded-footprint waves (the
      // out-of-core / 100 TB shape): candidate space partitioned by
      // pmod(prefix hash, 4), staged wave outputs, identical pair set —
      // certified against the identical oracle as dedup_prefix_pairs
      // wave count is a pure execution knob (result identical by
      // construction at ANY value — pinned by the equivalence test);
      // derived from the input size (r17 — see autoPasses): the
      // documents table's shingle/candidate explosion is steeper than
      // the fuzzy route's, so its per-wave byte budget is smaller
      val passes = autoPasses(s, dir, "documents", 64L << 20)
      // the chunked frame reads the staged wave outputs lazily; land
      // the final result to its OWN parquet so the wave staging can be
      // reclaimed NOW — a long-lived driver (Connect server, notebook)
      // must not accumulate /tmp staging across repeated invocations.
      // Landed as FILES, not a local checkpoint: an eager checkpoint
      // materializes the result as deserialized JVM rows, and the
      // fuzzy sibling's ~10⁸-pair sf100 result OOMed the heap on
      // block re-read; a parquet write streams. Keyed per (query, dir)
      // so re-entry reclaims the previous result dir (ADVICE r15).
      val out = Scratch.landing(s, s"dedup_prefix_chunked|$dir")
      Scratch.using(s, "graft-ppjoin-gate") { staging =>
        land(Dedup.prefixJaccardPairsChunked(t(s, dir, "documents"),
            n = 2, tNum = 1, tDen = 2, passes = passes, stagingDir = staging), out)
      }.orderBy("id_a", "id_b")
    },
    "dedup_pr_audit" -> { (s, dir) =>
      // in-engine recall/precision audit of the LSH dedup route against
      // the COMPLETE prefix-filtering route at the same (n=3, t=3/10)
      // operating point — the dedup sibling of sim_recall_audit. The
      // verify step makes LSH pairs a subset of exact pairs, so the
      // hash-checked precision=1.0 row is itself an assertion.
      // Exchange audit (MiniBench, sf0.1): 89 MB shuffle, ~98% of it the
      // exact route (the LSH side is 1.5 MB) — so the row's disk-class
      // sensitivity at sf10 is the exact route's candidate/spill volume,
      // and its scale face below swaps in the chunked exact route.
      val docs = t(s, dir, "documents")
      prAuditAgg(
        Dedup.prefixJaccardPairs(docs, n = 3, tNum = 3, tDen = 10),
        Dedup.minhashPairs(docs, threshold = 0.3, n = 3))
    },
    "dedup_semantic" -> { (s, dir) =>
      // SemDeDup: within-cluster centroid-priority domination. The gate
      // pins cluster = fixture label so the oracle replay stays static;
      // the library-default coarse assignment is kmeansAssign with
      // autoCells (occupancy constant in corpus size) — the same
      // pinned-for-oracle / auto-scaled-in-library split as
      // dedup_embedding's nBits
      Dedup.semanticDedup(t(s, dir, "embeddings"), threshold = 0.25,
          clusterCol = "label")
        .orderBy("vec_id")
    },
    "dedup_semantic_trained" -> { (s, dir) =>
      // the library-DEFAULT SemDeDup path end-to-end: clusters come
      // from the deterministic integer k-means quantizer (k=4, 2
      // Lloyd's rounds — the sim_ivf_trained trainer) instead of the
      // fixture label, and the oracle replays TRAINING plus the
      // domination dedup in one SQL chain
      val emb = t(s, dir, "embeddings")
      val assign = Similarity.kmeansAssign(emb, k = 4, iters = 2, dim = 64)
      Dedup.semanticDedup(emb.join(assign, "vec_id"), threshold = 0.25,
          clusterCol = "cid")
        .orderBy("vec_id")
    },
    "decontam_ngram" -> { (s, dir) =>
      // exact benchmark decontamination: train docs (odd ids) sharing
      // any distinct 3-gram with the eval corpus (even ids); eval gram
      // set is broadcast — the train side never shuffles its text
      val docs = t(s, dir, "documents")
      Dedup.contaminationMatches(
          train = docs.filter(col("doc_id") % 2 === 1),
          eval = docs.filter(col("doc_id") % 2 === 0), n = 3)
        .orderBy("doc_id")
    },
    "dedup_clusters" -> { (s, dir) =>
      // near-dup pairs → connected components → one canonical doc per
      // cluster (Borůvka hooking + contraction; O(log n) rounds)
      val docs = t(s, dir, "documents")
      Cluster.dedupClusters(docs, Dedup.minhashPairs(docs, threshold = 0.3))
        .orderBy("doc_id")
    },
    "dedup_survivors" -> { (s, dir) =>
      // quality-aware survivor selection: same near-dup clustering as
      // dedup_clusters, but each cluster keeps its LONGEST member
      // (n_chars, ties to the lower doc_id) instead of the min-id
      // canonical — the policy stage of a real curation pipeline
      val docs = t(s, dir, "documents")
      val cl = Cluster.dedupClusters(docs, Dedup.minhashPairs(docs, threshold = 0.3))
      Cluster.bestPerCluster(
          cl.join(docs.select(col("doc_id"), col("n_chars")), "doc_id"),
          scoreCol = "n_chars")
        .select(col("doc_id"), col("cluster_id"), col("n_chars"), col("keep"))
        .orderBy("doc_id")
    },
    "dedup_clusters_chain" -> { (s, dir) =>
      // ADVERSARIAL component shape for the CC operator, driver-
      // certified: 5 chains of ~n/5 docs each (diameter ~100 at the
      // driver's sf0.01, ~12k at sf10), chained in md5
      // order so consecutive chain neighbors have SCATTERED ids — the
      // non-monotone layout where per-node pointer jumping degrades to
      // O(diameter) (the r11 root cause at sf10). Borůvka contraction
      // converges it in O(log n) rounds; the oracle recomputes the
      // same chains and closes them with a recursive CTE — a different
      // algorithm entirely, so a shared-formulation bug cannot hide.
      import org.apache.spark.sql.expressions.Window
      val docs = t(s, dir, "documents")
      val keyed = docs.select(col("doc_id"),
        md5(concat(lit("chain:"), col("doc_id").cast(StringType))).as("_k"),
        graft.plans.HashBucket(
          concat(lit("chain:"), col("doc_id").cast(StringType)), 5).as("_g"))
      val nxt = lead(col("doc_id"), 1)
        .over(Window.partitionBy(col("_g")).orderBy(col("_k"), col("doc_id")))
      val edges = keyed.select(col("doc_id").as("id_a"), nxt.as("id_b"))
        .filter(col("id_b").isNotNull)
      Cluster.dedupClusters(docs.select(col("doc_id")), edges)
        .orderBy("doc_id")
    },

    "graph_labelprop" -> { (s, dir) =>
      // community detection: 3 deterministic label-propagation rounds
      // (majority neighbor label + self-vote, ties to the smallest
      // label) over the same customer↔supplier affinity graph as
      // pagerank; oracle unrolls the identical rounds
      val e0 = affinityEdges(s, dir)
      val e = e0.union(e0.select(col("dst").as("src"), col("src").as("dst")))
      Graph.labelPropagation(e, iters = 3).orderBy("id")
    },
    "graph_labelprop_equiv" -> { (s, dir) =>
      // NON-REPLAY witness for graph_labelprop's exchange shape: label
      // propagation is EQUIVARIANT under any strictly monotone node
      // relabeling (votes map 1:1; argmax ties break to the smallest
      // label, and a monotone map preserves the order) — so running
      // the operator on φ(G), φ(x) = x·2²⁰ + 999983, and inverting
      // must reproduce the base labels EXACTLY, for any iteration
      // count. φ pushes ids to the ~10¹³ range, stressing the
      // c·10¹⁹+(10¹⁹−1−lab) decimal argmax packing and the
      // voteParts/width discipline with large keys; the oracle states
      // the closed form (n_mismatch = 0) plus an independently-counted
      // node total and shares ZERO arithmetic with the operator. Runs
      // on a 1-in-64 node-induced sample of the affinity graph so the
      // double execution stays cheap at any sf.
      val sampled = affinityEdges(s, dir)
        .filter(col("src") % 16 === 0 && (col("dst") - 1) % 16 === 0)
      def sym(d: DataFrame) =
        d.union(d.select(col("dst").as("src"), col("src").as("dst")))
      val M = 1L << 20
      val C = 999983L
      val base = Graph.labelPropagation(sym(sampled), iters = 3)
      val mapped = Graph.labelPropagation(
          sym(sampled.select((col("src") * M + C).as("src"),
            (col("dst") * M + C).as("dst"))), iters = 3)
        // inverse of φ as an exact integer shift (φ outputs are exact
        // multiples of 2²⁰ after the offset; `/` on longs is IEEE
        // division in Spark)
        .select(shiftright(col("id") - C, 20).as("id"),
          shiftright(col("label") - C, 20).as("label"))
      base.as("b").join(mapped.as("m"), col("b.id") === col("m.id"), "full_outer")
        .agg(count(lit(1)).as("n_nodes"),
          // coalesce: sum over ZERO rows is NULL, but the closed-form
          // oracle states literal 0 — an empty 1-in-64 sample at a
          // tiny fixture must match it, not NULL-mismatch (ADVICE r15)
          coalesce(sum(when(col("b.id").isNull || col("m.id").isNull ||
            col("b.label") =!= col("m.label"), 1L).otherwise(0L)),
            lit(0L)).as("n_mismatch"))
    },
    "graph_powerlaw" -> { (s, dir) =>
      // degree-distribution audit over the co-purchase graph — the
      // graph face of the corpus-law family (text_zipf / text_heaps /
      // profile_benford): bucket node degrees by ilog2, count nodes
      // per bucket, slope of ilog2(count) on bucket by the shared
      // exact-integer least squares. One edge scan → node-sized degree
      // aggregate → ≤64-row bucket aggregate; windows never touch the
      // graph
      def il(c: org.apache.spark.sql.Column) = (length(bin(c)) - 1).cast(LongType)
      val e0 = affinityEdges(s, dir)
      val deg = e0.select(col("src").as("id"))
        .union(e0.select(col("dst").as("id")))
        .groupBy("id").agg(count(lit(1)).as("deg"))
      val buckets = deg.select(il(col("deg")).as("b"))
        .groupBy("b").agg(count(lit(1)).as("n_nodes"))
      val ls = buckets
        .agg(count(lit(1)).as("k"), sum(col("b")).as("sx"),
          sum(il(col("n_nodes"))).as("sy"),
          sum(col("b") * il(col("n_nodes"))).as("sxy"),
          sum(col("b") * col("b")).as("sxx"))
        .select((col("k") * col("sxy") - col("sx") * col("sy")).as("slope_num"),
          (col("k") * col("sxx") - col("sx") * col("sx")).as("slope_den"))
      buckets.crossJoin(broadcast(ls))
        .select(col("b"), col("n_nodes"), col("slope_num"), col("slope_den"),
          (col("slope_num").cast(DoubleType) / col("slope_den")).as("slope"))
        .orderBy("b")
    },
    "graph_pagerank" -> { (s, dir) =>
      // graph-centrality curation prior: PageRank over the customer↔
      // supplier affinity graph (undirected — reversed edges unioned,
      // so no dangling sinks), 3 power iterations in scaled-int64
      // arithmetic; the oracle replays the iterations unrolled, so
      // ranks are hash-exact across engines
      // long node ids (customers even, suppliers odd): an 8-byte join
      // key where a "c123"/"s45" string key would tax every hash and
      // sort in the loop — the integral-surrogate rule from the sim_*
      // operators applied to graph node ids
      val e0 = affinityEdges(s, dir)
      val e = e0.union(e0.select(col("dst").as("src"), col("src").as("dst")))
      Graph.pagerank(e, iters = 3).orderBy("id")
    },
    "graph_pagerank_witness" -> { (s, dir) =>
      // NON-REPLAY witness for graph_pagerank (VERDICT r16 #6, the
      // arr_pca_witness planted-geometry pattern): a planted graph
      // whose exact quantized ranks after 3 damped rounds are
      // computable BY HAND, stated as literals in the oracle — zero
      // shared arithmetic (the graph_pagerank oracle, while an
      // independent SQL unroll, still replays the power iteration; a
      // damping/floor/degree-direction bug would be replayed with it).
      // Graph: a 4-leaf undirected star (center 0, leaves = customers
      // 1..4 — present at every sf) plus a DISCONNECTED 3-cycle (ids
      // 10-12). Closed forms at scale=10^6, d=85/100, base=150000:
      //   star, k=4: pr1(c)=150000+850000·4=3550000,
      //     pr1(l)=150000+⌊85·⌊10^6/4⌋/100⌋=362500;
      //     pr2(c)=150000+⌊85·4·362500/100⌋=1382500,
      //     pr2(l)=150000+⌊85·⌊3550000/4⌋/100⌋=904375;
      //     pr3(c)=150000+⌊85·4·904375/100⌋=3224875,
      //     pr3(l)=150000+⌊85·⌊1382500/4⌋/100⌋=443781.
      //   cycle (2-regular): in-sum = 2·⌊pr/2⌋ = pr, so pr stays
      //     EXACTLY 10^6 every round — catches any cross-component
      //     mass leakage or normalization drift.
      // The only data work is the 4-row leaf scan (counted as n_leaves
      // so the oracle independently pins the fixture shape).
      val leaves = t(s, dir, "customer")
        .filter(col("c_custkey").between(1, 4))
        .select(col("c_custkey").cast(LongType).as("leaf"))
      val star = leaves.select(lit(0L).as("src"), col("leaf").as("dst"))
      val tri = leaves.filter(col("leaf") <= 3)
        .select((col("leaf") + 9L).as("src"), (col("leaf") % 3 + 10L).as("dst"))
      val e0 = star.unionByName(tri)
      val e = e0.unionByName(
        e0.select(col("dst").as("src"), col("src").as("dst")))
      Graph.pagerank(e, iters = 3)
        .crossJoin(broadcast(leaves.agg(count(lit(1)).as("n_leaves"))))
        .orderBy("id")
    },
    "graph_kcore" -> { (s, dir) =>
      // dense-cluster detection: the 9-core of the same sampled part
      // co-purchase graph triangleCount uses (nontrivial at the gate
      // sf: ~6% of nodes peel away over ~5 rounds); fixpoint peel, so
      // the oracle's fixed 8-round unroll provably agrees
      val e = copurchaseEdges(s, dir)
      Graph.kCore(e, k = 9).orderBy("id")
    },
    "graph_assortativity" -> { (s, dir) =>
      // degree-mixing audit of the same sampled part co-purchase
      // graph: symmetrized Pearson of endpoint degrees — exact D38
      // sums into ONE division (symmetrization equalizes the margins,
      // so no sqrt); negative here = hubs attach to leaves
      val e = copurchaseEdges(s, dir)
      Graph.degreeAssortativity(e)
    },
    "graph_clustcoef" -> { (s, dir) =>
      // per-node clustering coefficient on the same graph — the
      // clique/template detector: triangle credit from the same
      // degree-ordered enumeration as graph_triangles (the oracle
      // proves the per-node counts from a plain id-ordered 3-way
      // self-join), coefficient = one IEEE division of exact ints
      val e = copurchaseEdges(s, dir)
      Graph.localClusteringCoefficient(e).orderBy("id")
    },
    "graph_triangles" -> { (s, dir) =>
      // clustering structure of the part co-purchase graph, on a
      // node-induced 1-in-8 sample (parts ≡ 0 mod 8): per-order pair
      // fan-out is bounded by order size, the sample keeps |E| linear
      // in sf, and the count scales to the full graph as ~8^3. The
      // library side orients edges by (degree, id) — wedge work stays
      // Σ C(outdeg,2) on skewed graphs — while the oracle proves the
      // same count from a plain id-ordered 3-way self-join.
      val e = copurchaseEdges(s, dir)
      Graph.triangleCount(e)
    },
    "graph_linkpred" -> { (s, dir) =>
      // common-neighbor link prediction on the same sampled co-purchase
      // graph as graph_triangles: non-edge part pairs ranked by shared
      // co-purchase neighborhoods, Jaccard as an exact rational — the
      // "related products" / citation-suggestion query
      val e = copurchaseEdges(s, dir)
      Graph.linkPrediction(e, minCommon = 3L)
        .orderBy("id_a", "id_b")
    },
    "text_url_canon" -> { (s, dir) =>
      // URL canonicalization for crawl dedup: synthesize messy per-doc
      // URL variants (case, www., query, fragment, trailing slash all
      // cycling on doc_id), canonicalize, and count docs per canonical
      // key — variants of the same page must collapse to one key
      val docs = t(s, dir, "documents")
      val messy = concat(
        when(col("doc_id") % 2 === 0, "HTTP://").otherwise("http://"),
        when(col("doc_id") % 3 === 0, "WWW.").otherwise(""),
        lit("site"), (col("doc_id") % 25).cast(StringType), lit(".example.com/p/"),
        (col("doc_id") % 50).cast(StringType),
        when(col("doc_id") % 5 === 0, "/").otherwise(""),
        when(col("doc_id") % 7 === 0, "?utm_source=feed&ref=x").otherwise(""),
        when(col("doc_id") % 11 === 0, "#frag").otherwise(""))
      docs.select(col("doc_id"), TextFunctions.canonicalUrlKey(messy).as("canon"))
        .groupBy("canon").agg(count(lit(1)).as("n"))
        .orderBy("canon")
    },
    "text_winsorize" -> { (s, dir) =>
      // clip per-language token counts to the [p05, p95] band edges —
      // percentRankBand's keep-the-row sibling; same value-counting
      // ranks, oracle uses DuckDB's NATIVE percent_rank window (an
      // independent formulation of the same rational)
      import TextFunctions._
      val docs = t(s, dir, "documents").select(col("doc_id"), col("lang"),
        tokenCount(col("text")).as("n_tokens"))
      Quantile.winsorize(docs, "lang", "n_tokens", 0.05, 0.95)
        .orderBy("doc_id")
    },
    "text_strip_html" -> { (s, dir) =>
      // HTML boilerplate removal over synthesized markup (same
      // synthesize-inputs recipe as the mm_* roundtrips: the fixture
      // carries no HTML, so deterministic markup is wrapped around each
      // doc and BOTH engines strip it with the same pattern chain)
      val docs = t(s, dir, "documents")
      val wrapped = concat(
        lit("<html><head><style>p{color:red}</style></head><body><h1 class=\"t\">Doc "),
        col("doc_id").cast(StringType),
        lit("</h1><p>"), col("text"),
        lit("</p><p>A &amp; B &lt;ok&gt; &quot;q&quot; &#39;s&#39;&nbsp;end</p>"),
        lit("<script>var x = 1 < 2;</script><!-- hidden --></body></html>"))
      docs.select(col("doc_id"), TextFunctions.stripMarkup(wrapped).as("clean"))
        .orderBy("doc_id")
    },
    "text_tfidf" -> { (s, dir) =>
      // per-doc distinctive terms: tf/df score (exact IEEE division, no
      // ln — see tfidfTopK), bounded top-3 per doc via TopKByScore
      TextFunctions.tfidfTopK(t(s, dir, "documents"), col("text"), k = 3)
        .orderBy("doc_id", "rank")
    },
    "text_tfidf_witness" -> { (s, dir) =>
      // NON-REPLAY witness for text_tfidf (VERDICT r16 #6): a planted
      // 4-document corpus whose tf/df scores are closed-form dyadic
      // literals — the oracle states them with NO tokenization, no
      // tf, no df, no ranking anywhere (text_tfidf's own oracle
      // replays the formulation). Corpus (docs = documents 1..4,
      // present at every sf; text overridden in-plan):
      //   1: "aa aa aa bb"  2: "aa bb bb cc"
      //   3: "cc dd"        4: "dd dd ee ff"
      // df: aa=2 bb=2 cc=2 dd=2 ee=1 ff=1. Scores tf/df (all exact
      // dyadic): doc1 aa=1.5 bb=0.5; doc2 bb=1.0, aa=cc=0.5 (tie →
      // token asc: aa ranks 2, cc ranks 3); doc3 cc=dd=0.5 (tie →
      // cc, dd); doc4 dd=ee=ff=1.0 (tie → dd, ee, ff). Kills a tf/df
      // inversion, a ranking or tie-order bug, or a tokenizer
      // regression that the replaying oracle would follow.
      val planted = t(s, dir, "documents")
        .filter(col("doc_id").between(1, 4))
        .select(col("doc_id"),
          when(col("doc_id") === 1, "aa aa aa bb")
            .when(col("doc_id") === 2, "aa bb bb cc")
            .when(col("doc_id") === 3, "cc dd")
            .otherwise("dd dd ee ff").as("text"))
      TextFunctions.tfidfTopK(planted, col("text"), k = 3)
        .crossJoin(broadcast(planted.agg(count(lit(1)).as("n_docs"))))
        .orderBy("doc_id", "rank")
    },
    "text_bpe_encode" -> { (s, dir) =>
      // BPE inference: train the merge table on the EVEN half, encode
      // the held-out ODD half by replaying the merges in order — the
      // tokenize-the-next-dump step once a vocabulary is frozen. The
      // encode chain is a shuffle-free projection (merge table rides
      // as literals); the oracle replays training AND the held-out
      // fold rounds in SQL
      val docs = t(s, dir, "documents")
      val (merges, _) = graft.functions.Bpe.train(
        docs.filter(col("doc_id") % 2 === 0), col("text"), rounds = 5)
      graft.functions.Bpe.encode(
          docs.filter(col("doc_id") % 2 === 1), col("text"), merges)
        .select(col("doc_id"), size(col("ts")).cast(LongType).as("n_tokens"),
          size(filter(col("ts"), x => x.contains("\u0002"))).cast(LongType)
            .as("n_merged"))
        .orderBy("doc_id")
    },
    "text_bpe" -> { (s, dir) =>
      // BPE vocabulary training in-engine: 5 merge rounds over the
      // corpus, each = one pair-count aggregate + driver-side top-1 +
      // codegen'd greedy fold rewrite (checkpointed with retirement
      // lag). Output = the trained merge table; the oracle replays all
      // five rounds unrolled with an independent string-encoded fold
      import s.implicits._
      val (merges, _) = graft.functions.Bpe.train(
        t(s, dir, "documents"), col("text"), rounds = 5)
      merges.toDF().orderBy("round")
    },
    "text_bpe_roundtrip" -> { (s, dir) =>
      // NON-REPLAY BPE witness: decode∘encode is the identity on
      // held-out text (expanding the \\u0002 joiner restores the
      // whitespace-normalized document), and re-encoding the decoded
      // text reproduces the token stream bit-for-bit. The oracle pins
      // both booleans TRUE without running any BPE — a merge kernel
      // that drops, duplicates, or reorders tokens fails here with no
      // shared formulation to hide behind (the text_bpe oracle, while
      // an independent fold encoding, still replays the algorithm).
      val docs = t(s, dir, "documents")
      val (merges, _) = graft.functions.Bpe.train(
        docs.filter(col("doc_id") % 2 === 0), col("text"), rounds = 5)
      val held = docs.filter(col("doc_id") % 2 === 1)
      val enc1 = graft.functions.Bpe.encode(held, col("text"), merges)
      val decoded = enc1.select(col("doc_id"),
        concat_ws(" ", transform(col("ts"),
          x => translate(x, "\u0002", " "))).as("text"))
      val enc2 = graft.functions.Bpe.encode(decoded, col("text"), merges)
      val norm = held.select(col("doc_id"),
        concat_ws(" ", graft.functions.TextFunctions.tokens(col("text"))).as("_orig"))
      enc1.select(col("doc_id"), col("ts").as("_t1"))
        .join(enc2.select(col("doc_id"), col("ts").as("_t2")), "doc_id")
        .join(decoded.select(col("doc_id"), col("text").as("_dec")), "doc_id")
        .join(norm, "doc_id")
        .select(col("doc_id"),
          (col("_dec") === col("_orig")).as("roundtrip_ok"),
          (col("_t1") === col("_t2")).as("stable"))
        .orderBy("doc_id")
    },
    "text_bm25" -> { (s, dir) =>
      // BM25 ranking for a fixed 3-term query: rational idf (no ln —
      // same cross-engine-exactness rule as text_tfidf), doc-length
      // normalization, fixed-order term sum; global top-20 rides
      // TakeOrdered, bounded like every top-k here
      TextFunctions.bm25Scores(t(s, dir, "documents"), col("text"),
          Seq("spark", "merge", "window"))
        .orderBy(col("score").desc, col("doc_id")).limit(20)
    },
    "text_eval_rank" -> { (s, dir) =>
      // retrieval-eval: nDCG@10 + first-relevant-rank per query term,
      // grading the single-term BM25 ranking against tf-derived labels
      // (integer DCG via the shared 2^20/log2 weight table — a spec
      // constant, never a per-engine libm log); both actual and ideal
      // top-10 ride the bounded TopKByScore aggregate
      TextFunctions.evalRanking(t(s, dir, "documents"), col("text"),
          Seq("spark", "merge", "window"), k = 10)
        .orderBy("term")
    },
    "text_rrf" -> { (s, dir) =>
      // hybrid-retrieval fusion: BM25 ranking (lexical) RRF-fused with
      // the quality-score ranking (a stand-in second ranker with an
      // established oracle replay); ranks from the bounded TopKByScore
      // aggregate — no global row_number window anywhere
      val docs = t(s, dir, "documents")
      val bm = TextFunctions.bm25Scores(docs, col("text"),
        Seq("spark", "merge", "window"))
      val q = docs.select(col("doc_id"),
        TextFunctions.qualityScore(col("text")).as("score"))
      Similarity.rrfFuse(bm, q, topN = 50, k = 20)
    },
    "text_encode" -> { (s, dir) =>
      // frequency-vocabulary token encoding: top-100 tokens by corpus
      // count (total order: count desc, token asc) become ids 1..100,
      // documents encode to (doc_id, pos, token_id) rows via one
      // broadcast join, OOV → 0 — the tokenizer-to-ids step before
      // sequence packing
      val docs = t(s, dir, "documents")
      val vocab = TextFunctions.buildVocab(docs, col("text"), 100)
      TextFunctions.encodeTokens(docs, col("text"), vocab)
        .orderBy("doc_id", "pos")
    },
    "sample_split_safe" -> { (s, dir) =>
      // leakage-safe train/test split: whole near-dup clusters assigned
      // to one side by a hash of the cluster label — a test doc can
      // never have a near-copy in train. Oracle = recursive-CTE closure
      // + the same md5 bucket on the component label
      val docs = t(s, dir, "documents")
      Sampling.splitByCluster(docs, Dedup.minhashPairs(docs, threshold = 0.3),
          trainPct = 80)
        .orderBy("doc_id")
    },

    // ---- corpus curation: packing / sampling / scrubbing ----
    "pack_sequences" -> { (s, dir) =>
      import TextFunctions._
      // concat-and-chunk token packing, shard-local by `source`
      Pack.packSequences(t(s, dir, "documents"), budget = 2048L,
        tokens = tokenCount(col("text")))
        .select("doc_id", "source", "n_tokens", "tok_offset", "pack_id", "pack_pos")
        .orderBy("doc_id")
    },
    "pack_bins" -> { (s, dir) =>
      import TextFunctions._
      // whole-document FFD bin packing, shard-local by `source`: the
      // no-split sibling of pack_sequences; budget 128 ≈ 2.4 docs/bin
      // on the fixture so the first-fit structure is actually exercised
      Pack.packBins(t(s, dir, "documents"), budget = 128L,
        tokens = tokenCount(col("text")))
        .orderBy("doc_id")
    },
    "pipe_curation" -> { (s, dir) =>
      import TextFunctions._
      import org.apache.spark.sql.expressions.Window
      // the whole curation chain, composed end-to-end: score → quality
      // filter → exact-dedup keep → deterministic stratified sample →
      // shard-local packing. Narrow ops fuse into one codegen stage; the
      // only shuffles are the dedup window (fp) and the pack window
      // (source) — the minimal set for these semantics.
      // n_tokens is computed BEFORE the fp window so the (wide) text
      // column never rides the dedup shuffle — only fixed-width columns
      // cross the exchanges
      val scored = t(s, dir, "documents").select(
        col("doc_id"), col("source"),
        langId(col("text")).as("lang_pred"),
        qualityScore(col("text")).as("quality"),
        fingerprintMd5(col("text")).as("fp"),
        tokenCount(col("text")).as("n_tokens"))
      val kept = scored.filter(col("quality") >= 0.40)
        .withColumn("keeper", min(col("doc_id")).over(Window.partitionBy(col("fp"))))
        .filter(col("doc_id") === col("keeper"))
      val sampled = Sampling.stratified(kept, "doc_id", "lang_pred",
        rates = Map("en" -> 50), defaultPct = 30)
      Pack.packSequences(sampled, budget = 1024L, tokens = col("n_tokens"))
        .select(col("doc_id"), col("lang_pred"), col("quality"),
          col("n_tokens"), col("pack_id"))
        .orderBy("doc_id")
    },
    "sample_stratified" -> { (s, dir) =>
      // deterministic hash sampling: 50% of en, 10% of everything else —
      // reproducible across runs/engines (no RNG), fully oracle-checked
      Sampling.stratified(t(s, dir, "documents"), "doc_id", "lang",
        rates = Map("en" -> 50), defaultPct = 10)
        .select(col("doc_id"), col("lang"))
        .orderBy("doc_id")
    },
    "sample_weighted" -> { (s, dir) =>
      import TextFunctions._
      // quality-weighted deterministic sampling: P(keep) = quality score,
      // zero RNG — the curriculum-shaping sampler, fully oracle-checked
      Sampling.weighted(t(s, dir, "documents"), "doc_id",
        qualityScore(col("text")))
        .select(col("doc_id"), col("lang"))
        .orderBy("doc_id")
    },
    "sample_cap_per_key" -> { (s, dir) =>
      // per-language frequency cap (the corpus-balancing rule: at most
      // N docs per domain/source/lang — lang is the fixture key whose
      // groups actually exceed the cap): deterministic lowest-md5-bucket choice
      // via the BOUNDED TopKByScore aggregate + semi join — never a
      // row_number window over a hot domain's full row set
      Sampling.capPerKey(t(s, dir, "documents"), "lang", "doc_id", n = 40)
        .select(col("doc_id"), col("lang"))
        .orderBy("doc_id")
    },
    "sample_top_mass" -> { (s, dir) =>
      // keep the longest docs carrying the top HALF of each language's
      // total character mass (nucleus/top-p curation, tie-inclusive) —
      // rational p, decimal-exact masses, cutoff broadcast back
      Sampling.topMassByScore(
          t(s, dir, "documents").select(col("doc_id"), col("lang"), col("n_chars")),
          "lang", "n_chars", 1, 2)
        .orderBy("doc_id")
    },
    "sample_dsir" -> { (s, dir) =>
      // DSIR importance weights of the whole corpus against an
      // in-domain target (here: the 'en' slice as the clean reference)
      // — hashed-bigram multinomials, add-one smoothing, quantized
      // ilog2 log-likelihood ratios; dims=4096 keeps bucket collisions
      // realistic at the fixture's vocabulary
      val docs = t(s, dir, "documents")
      Sampling.dsirWeights(docs, docs.filter(col("lang") === "en"), dims = 4096)
        .orderBy("doc_id")
    },
    "feat_logreg" -> { (s, dir) =>
      // in-engine quality-classifier training + scoring: fast-sigmoid
      // GD (16 full-batch iterations, effective lr 16) on three
      // token-level features, label = "long document" (n_chars > 300 —
      // learnable THROUGH the features, not in them); the oracle
      // replays all 16 iterations unrolled. ~81% train accuracy vs a
      // 51% base rate at sf0.01.
      import TextFunctions._
      val f = t(s, dir, "documents").select(
        col("doc_id"),
        (least(size(tokens(col("text"))), lit(300)).cast(DoubleType) / 300.0).as("f1"),
        (size(array_distinct(tokens(col("text")))).cast(DoubleType)
          / size(tokens(col("text")))).as("f2"),
        (least(length(expr("replace(text, ' ', '')")), lit(2000)).cast(DoubleType)
          / 2000.0).as("f3"),
        when(col("n_chars") > 300, 1.0).otherwise(0.0).as("y"))
      val wq = Features.logisticTrain(f, Seq("f1", "f2", "f3"), "y",
        iters = 16, lrNum = 16L)
      Features.logisticScore(f, wq.toSeq, Seq("f1", "f2", "f3"))
        .select(col("doc_id"), col("y").cast(LongType).as("y"),
          col("p"), col("p_pred").cast(LongType).as("pred"))
        .orderBy("doc_id")
    },
    "feat_logreg_sep" -> { (s, dir) =>
      // NON-REPLAY witness for the GD trainer (the driver-certified
      // face of the planted-separation unit law): on a margin-separated
      // frame the trained classifier must recover the planted rule
      // EXACTLY — the oracle computes predictions from the CLOSED-FORM
      // rule (doc_id parity), not by replaying gradient descent, so a
      // shared-formulation bug in the trainer fails the gate
      import graft.operators.Features
      val f = t(s, dir, "documents").select(
        col("doc_id"),
        when(col("doc_id") % 2 === 0, 0.9).otherwise(0.1).as("f1"),
        ((col("doc_id") % 7).cast(DoubleType) / 7.0).as("f2"),
        when(col("doc_id") % 2 === 0, 1.0).otherwise(0.0).as("y"))
      val wq = Features.logisticTrain(f, Seq("f1", "f2"), "y",
        iters = 16, lrNum = 16L)
      Features.logisticScore(f, wq.toSeq, Seq("f1", "f2"))
        .select(col("doc_id"), col("p_pred").cast(LongType).as("pred"))
        .orderBy("doc_id")
    },
    "sample_temperature" -> { (s, dir) =>
      // α=0.5 temperature rebalancing of the language mix: low-resource
      // languages keep ~everything, the dominant one is downsampled —
      // rates are exact int64 micro-fractions from driver-side stats,
      // row choice is the seed-keyed md5 bucket (no RNG, no join)
      Sampling.temperatureSample(t(s, dir, "documents"),
          key = col("doc_id"), mixCol = "lang", targetRows = 200, seed = 11)
        .select(col("doc_id"), col("lang"))
        .orderBy("doc_id")
    },
    "text_scrub" -> { (s, dir) =>
      import TextFunctions._
      // fixture text has no PII — inject deterministic synthetic PII so
      // the redaction path is actually exercised end-to-end
      val withPii = t(s, dir, "documents").select(col("doc_id"),
        concat(col("text"), lit(" contact user"), col("doc_id").cast(StringType),
          lit("@example.com or 555-123-4567 or (555) 987-6543 or 555 111 2222 at 10.0.0."),
          (col("doc_id") % 256).cast(StringType)).as("text"))
      withPii.select(col("doc_id"), scrubPii(col("text")).as("scrubbed"))
        .orderBy("doc_id")
    },
    "text_fix_encoding" -> { (s, dir) =>
      import TextFunctions._
      // fixtures are clean ASCII — inject a deterministic cp1252-
      // double-decoded tail on every third doc, then run the repair
      // chain + detection flag over the whole corpus (per-row literal
      // replace chain: codegen'd, shuffle-free)
      val injected = when(col("doc_id") % 3 === 0,
          concat_ws(" ", col("text"), lit(PipelineEntry.MojiSample)))
        .otherwise(col("text"))
      t(s, dir, "documents")
        .select(col("doc_id"), fixMojibake(injected).as("fixed"),
          isMojibake(injected).as("was_mojibake"))
        .orderBy("doc_id")
    },

    // ---- similarity search ----
    "sim_bruteforce" -> { (s, dir) =>
      val emb = t(s, dir, "embeddings")
      Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 10), k = 5)
        .withColumn("rank", col("rank").cast(LongType))
        .orderBy("q_id", "rank")
    },
    "sim_ivf" -> { (s, dir) =>
      val emb = t(s, dir, "embeddings")
      Similarity.ivfTopK(emb, emb.filter(col("vec_id") < 10), k = 5, coarseCol = "label")
        .withColumn("rank", col("rank").cast(LongType))
        .orderBy("q_id", "rank")
    },
    "sim_margin_mining" -> { (s, dir) =>
      // margin-based pair mining (the bitext-mining scorer): a bounded
      // batch of even-id queries (the production shape — mining runs in
      // query batches, so suite cost stays LINEAR in the corpus at any
      // SF) mines its best partner in the odd-id half, cosine normalized
      // by both endpoints' k=4 neighborhood mass, "max" strategy at
      // margin >= 1.0 — hubs that are close to everything score LOW
      val emb = t(s, dir, "embeddings")
      Similarity.marginMining(
          emb.filter(col("vec_id") % 2 === 0 && col("vec_id") < 200),
          emb.filter(col("vec_id") % 2 === 1),
          k = 4, minMarginMicro = 1000000L)
        .orderBy("x_id")
    },
    "sim_lsh" -> { (s, dir) => // ANN path; recall vs brute force unit-tested
      val emb = t(s, dir, "embeddings")
      // nBits pinned so the static oracle SQL replays the same 8
      // hyperplanes at any fixture size; the library default is the
      // corpus-count-scaled Similarity.autoBits (occupancy unit-tested)
      Similarity.lshTopK(emb, emb.filter(col("vec_id") < 10), k = 5, dim = 64,
          nBits = 8)
        .withColumn("rank", col("rank").cast(LongType))
        .orderBy("q_id", "rank")
    },
    "sim_lsh_probe" -> { (s, dir) => // multi-probe: Hamming-1 bucket expansion
      val emb = t(s, dir, "embeddings")
      Similarity.lshTopKProbe(emb, emb.filter(col("vec_id") < 10), k = 5, dim = 64,
          nBits = 8)
        .withColumn("rank", col("rank").cast(LongType))
        .orderBy("q_id", "rank")
    },
    "sim_recall_audit" -> { (s, dir) =>
      // the acceptance gate for an index configuration: recall@5 of the
      // 8-bit single-probe LSH search vs the exact brute-force ranking,
      // per query — measured in-engine on the same frames a deployment
      // would sample
      val emb = t(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") < 10)
      Similarity.recallAtK(
          Similarity.lshTopK(emb, q, k = 5, dim = 64, nBits = 8),
          Similarity.bruteForceTopK(emb, q, k = 5))
        .orderBy("q_id")
    },
    "sim_mutual_knn" -> { (s, dir) =>
      // mutual 5-NN similarity graph within the pinned coarse blocks
      // (label — the sim_ivf pinned-assignment pattern): edge kept iff
      // BOTH endpoints rank each other top-5 — the denoised graph
      // clustering pipelines actually build; ranking is the bounded
      // TopKByScore aggregate, never a corpus-side window. The default
      // shardTarget md5-subdivides oversized blocks (ceil(n/2048)
      // shards — 1 at this sf, so the gate result is the exact
      // block-local graph while the formula replays in the oracle);
      // without it the 10 pinned labels cost 180× time for 10× rows
      // at the sf10 rehearsal
      Similarity.mutualKnnGraph(t(s, dir, "embeddings"), k = 5,
          blockCol = "label")
        .orderBy("id_a", "id_b")
    },
    "sim_centroid_classify" -> { (s, dir) =>
      // label-separability diagnostic: per-label integer centroids,
      // every vector classified to the nearest one, confusion matrix
      // out (quantized fit+predict replays exactly in the oracle)
      Similarity.centroidClassify(t(s, dir, "embeddings"), dim = 64)
        .orderBy("label", "predicted")
    },
    "sim_ivf_trained" -> { (s, dir) =>
      // IVF over a TRAINED coarse quantizer: deterministic integer
      // k-means (oracle replays the same Lloyd's iterations in SQL)
      val emb = t(s, dir, "embeddings")
      val assign = Similarity.kmeansAssign(emb, k = 4, iters = 2, dim = 64)
      val emb2 = emb.join(assign, "vec_id")
      Similarity.ivfTopK(emb2, emb2.filter(col("vec_id") < 10), k = 5, coarseCol = "cid")
        .withColumn("rank", col("rank").cast(LongType))
        .orderBy("q_id", "rank")
    },
    "sim_index_persist" -> { (s, dir) =>
      // build-once/query-many: train the PQ codebook, persist codebook
      // AND codes as parquet, then answer the query from the LOADED
      // index without touching a corpus vector — the round-trip must
      // land on sim_pq's exact rows (shared oracle), proving the
      // persisted form carries the full search state
      val emb = t(s, dir, "embeddings")
      val model = Similarity.pqTrain(emb, m = 4, ksub = 16, iters = 2, dim = 64)
      val base = Scratch.landing(s, s"sim_index_persist|$dir")
      model.save(s, s"$base/codebook")
      val codes = land(Similarity.pqEncode(emb, model).withColumnRenamed("vec_id", "c_id"),
        s"$base/codes")
      val loaded = Similarity.PqModel.load(s, s"$base/codebook")
      Similarity.pqTopKFromCodes(codes, emb.filter(col("vec_id") < 10), k = 5, loaded)
        .withColumn("rank", col("rank").cast(LongType))
        .orderBy("q_id", "rank")
    },
    "sim_index_append" -> { (s, dir) =>
      // the index-GROWTH half of the lifecycle: train the codebook on
      // the base corpus only (vec_id % 3 != 0), persist; the daily
      // batch (vec_id % 3 = 0) is encoded by the LOADED codebook with
      // no retraining and lands next to the base codes; queries answer
      // over the union — bit-identical to encoding everything with the
      // base-trained model, which is what the oracle replays
      val emb = t(s, dir, "embeddings")
      val base = emb.filter(col("vec_id") % 3 =!= 0)
      val batch = emb.filter(col("vec_id") % 3 === 0)
      val p = Scratch.landing(s, s"sim_index_append|$dir")
      val model = Similarity.pqTrain(base, m = 4, ksub = 16, iters = 2, dim = 64)
      model.save(s, s"$p/codebook")
      val codesBase = land(Similarity.pqEncode(base, model).withColumnRenamed("vec_id", "c_id"),
        s"$p/codes_base")
      val loaded = Similarity.PqModel.load(s, s"$p/codebook")
      val codesBatch = land(Similarity.pqEncode(batch, loaded).withColumnRenamed("vec_id", "c_id"),
        s"$p/codes_batch")
      Similarity.pqTopKFromCodes(codesBase.unionByName(codesBatch),
          emb.filter(col("vec_id") < 10), k = 5, loaded)
        .withColumn("rank", col("rank").cast(LongType))
        .orderBy("q_id", "rank")
    },
    "sim_pq" -> { (s, dir) =>
      // product-quantization ADC search: four deterministic per-subspace
      // integer k-means codebooks (m=4 × 16 dims, ksub=4, 2 Lloyd's
      // iterations — the oracle replays all four trainings in SQL),
      // corpus encoded to 4 codes by a shuffle-free projection, ADC scan
      // sums per-subspace lookup-table distances — int64 end to end, so
      // the compare is hash-exact with no float columns at all
      val emb = t(s, dir, "embeddings")
      val model = Similarity.pqTrain(emb, m = 4, ksub = 16, iters = 2, dim = 64)
      Similarity.pqTopK(emb, emb.filter(col("vec_id") < 10), k = 5, model)
        .withColumn("rank", col("rank").cast(LongType))
        .orderBy("q_id", "rank")
    },
    "sim_pq_refined" -> { (s, dir) =>
      // PQ + exact re-rank (FAISS `refine`): ADC shortlists k×refine=40
      // candidates per query, a broadcast join fetches just those
      // vectors, exact cosine re-ranks to k — recall climbs with
      // `refine` while the corpus pass still reads only codes
      val emb = t(s, dir, "embeddings")
      val model = Similarity.pqTrain(emb, m = 4, ksub = 16, iters = 2, dim = 64)
      Similarity.pqTopKRefined(emb, emb.filter(col("vec_id") < 10), k = 5, model,
          refine = 8)
        .withColumn("rank", col("rank").cast(LongType))
        .orderBy("q_id", "rank")
    },
    "sim_ivf_probe" -> { (s, dir) =>
      // multi-probe IVF: each query searches its nprobe=2 nearest cells
      // of the trained quantizer (oracle replays training AND the probe
      // ranking — both pure integer arithmetic, engine-deterministic)
      val emb = t(s, dir, "embeddings")
      val (assign, cents) = Similarity.kmeansTrain(emb, k = 4, iters = 2, dim = 64)
      val emb2 = emb.join(assign, "vec_id")
      Similarity.ivfTopKProbe(emb2, emb2.filter(col("vec_id") < 10), k = 5,
          nprobe = 2, centroids = cents, coarseCol = "cid")
        .withColumn("rank", col("rank").cast(LongType))
        .orderBy("q_id", "rank")
    },

    // ---- multimodal plumbing ----
    "mm_decode_meta" -> { (s, dir) =>
      // REAL JPEG metadata decode (complements mm_decode_png's PNG
      // path): a 1-frame MJPEG payload IS a plain JPEG image, so the
      // image decoder reads it — grayscale (1 channel), dims derived
      // from doc_id, oracle recomputes without a codec
      val dims = t(s, dir, "documents").select(col("doc_id"),
        lit(1).as("nf"),
        ((col("doc_id") % 16 + 1) * 8).as("w"), ((col("doc_id") % 8 + 1) * 8).as("h"))
      Multimodal.decodeImageMetaReal(s,
        Multimodal.synthesizeMjpeg(s, dims, "doc_id", "nf", "w", "h"))
        .orderBy("media_id")
    },
    "mm_image_stats" -> { (s, dir) =>
      // PIXEL-level differential check: the oracle recomputes the
      // luminance sum from the (id, x, y) pattern in pure SQL, so the
      // whole raster must decode byte-exactly, not just the header
      val dims = t(s, dir, "documents").select(col("doc_id"),
        (col("doc_id") % 31 + 1).as("w"), (col("doc_id") % 17 + 1).as("h"))
      Multimodal.imageStats(s,
        Multimodal.synthesizePng(s, dims, "doc_id", "w", "h"))
        .orderBy("media_id")
    },
    "mm_decode_png" -> { (s, dir) =>
      // REAL codec roundtrip: synthesize an actual PNG per document with
      // dimensions derived from doc_id, then decode it back with
      // javax.imageio — the oracle recomputes the dimensions from doc_id
      // directly, so the encode→decode path is differentially verified
      val dims = t(s, dir, "documents").select(col("doc_id"),
        (col("doc_id") % 31 + 1).as("w"), (col("doc_id") % 17 + 1).as("h"))
      Multimodal.decodeImageMetaReal(s,
        Multimodal.synthesizePng(s, dims, "doc_id", "w", "h"))
        .orderBy("media_id")
    },
    "mm_decode_wav" -> { (s, dir) =>
      // REAL audio codec roundtrip (the WAV sibling of mm_decode_png):
      // synthesize an actual RIFF/WAVE payload per document with frame
      // count and channel layout derived from doc_id, decode the header
      // back with javax.sound.sampled — the oracle recomputes the
      // metadata from doc_id directly
      val dims = t(s, dir, "documents").select(col("doc_id"),
        (col("doc_id") % 200 + 1).as("nf"), (col("doc_id") % 2 + 1).as("ch"))
      Multimodal.decodeAudioMetaReal(s,
        Multimodal.synthesizeWav(s, dims, "doc_id", "nf", "ch"))
        .orderBy("media_id")
    },
    "mm_decode_mp4" -> { (s, dir) =>
      // REAL video container roundtrip (the MP4 sibling of mm_decode_png
      // / mm_decode_wav): synthesize a minimal valid ISO-BMFF container
      // per document with (timescale, duration) derived from doc_id,
      // then box-walk the header back to mvhd — the oracle recomputes
      // the metadata from doc_id directly, so the encode→decode path is
      // differentially verified (VERDICT r7 #1)
      val dims = t(s, dir, "documents").select(col("doc_id"),
        (col("doc_id") % 900 + 100).as("ts"), (col("doc_id") % 100000 + 1).as("dur"))
      Multimodal.decodeVideoMetaReal(s,
        Multimodal.synthesizeMp4(s, dims, "doc_id", "ts", "dur"))
        .orderBy("media_id")
    },
    "mm_frames" -> { (s, dir) =>
      // REAL video frame decode (retires the last multimodal stub):
      // synthesize a raw Motion-JPEG clip per document (doc_id%3+1
      // solid grayscale frames, dims from doc_id), split on SOI/EOI,
      // decode every frame with javax.imageio, and emit REAL pixel
      // stats — the oracle recomputes width/height/mean from (id, f)
      // because solid 8-aligned frames roundtrip JPEG bit-exactly
      val dims = t(s, dir, "documents").select(col("doc_id"),
        (col("doc_id") % 3 + 1).as("nf"),
        ((col("doc_id") % 4 + 1) * 8).as("w"), ((col("doc_id") % 3 + 1) * 8).as("h"))
      Multimodal.decodeVideoFramesReal(s,
        Multimodal.synthesizeMjpeg(s, dims, "doc_id", "nf", "w", "h"))
        .orderBy("media_id", "frame_idx")
    },
    "mm_frame_offsets" -> { (s, dir) => // byte-stride sampling plumbing
      Multimodal.sampleFrames(Multimodal.asMedia(t(s, dir, "documents")), 1024L)
        .orderBy("media_id", "frame_idx")
    },
    "mm_features" -> { (s, dir) => // mapPartitions batch path; unit-tested
      Multimodal.extractFeatures(s, Multimodal.asMedia(t(s, dir, "documents")))
        .orderBy("media_id")
    },
    "mm_resize" -> { (s, dir) =>
      // letterbox geometry over REAL decoded dimensions: synthesize
      // PNGs whose width straddles the 224 target (so both the
      // downscale and the never-upscale branches execute), decode them
      // back, then compute the output box
      val dims = t(s, dir, "documents").select(col("doc_id"),
        (col("doc_id") % 300 + 1).as("w"), (col("doc_id") % 40 + 1).as("h"))
      Multimodal.resizeGeometry(
        Multimodal.decodeImageMetaReal(s,
          Multimodal.synthesizePng(s, dims, "doc_id", "w", "h"))
          .select(col("media_id"), col("width"), col("height")),
        224L, 224L)
        .orderBy("media_id")
    },
    "mm_dhash" -> { (s, dir) =>
      // perceptual 56-bit dHash over REAL decoded pixels: docs sharing
      // doc_id%60 get near-identical rasters (content base differs by a
      // small additive delta), so the hash is a closed-form function of
      // (base, w, h) the oracle recomputes in SQL — the whole PNG
      // encode→decode→sample path is differentially verified.
      // The `DIV 10^9 · 97` term is ZERO for every fixture doc_id and
      // only fires on ScaleUp replicas (ids shifted by k·10^9): each
      // replica lands on a distinct mod-256 wrap phase, so near-dup
      // structure stays WITHIN a replica instead of every image having
      // ~replicas·copies corpus-wide (the r9 dedup_fuzzy
      // fixture-faithfulness rule, applied to the image modality)
      val dims = t(s, dir, "documents").select(col("doc_id"),
        ((col("doc_id") % 60) * 131 + expr("doc_id DIV 60") % 4 +
          expr("doc_id DIV 1000000000") * 97).as("base"),
        ((col("doc_id") % 60) % 24 + 9).as("w"),
        ((col("doc_id") % 60) % 16 + 9).as("h"))
      Multimodal.imageDHash(s,
        Multimodal.synthesizePngSeeded(s, dims, "doc_id", "base", "w", "h"))
        .orderBy("media_id")
    },
    "mm_dhash_pairs" -> { (s, dir) =>
      // image near-dup pairs: hamming(dhash) <= 3 via pigeonhole banding
      // (complete at the threshold), verified against the brute-force
      // all-pairs oracle — the image-modality sibling of dedup_simhash_pairs
      val dims = t(s, dir, "documents").select(col("doc_id"),
        ((col("doc_id") % 60) * 131 + expr("doc_id DIV 60") % 4 +
          expr("doc_id DIV 1000000000") * 97).as("base"),
        ((col("doc_id") % 60) % 24 + 9).as("w"),
        ((col("doc_id") % 60) % 16 + 9).as("h"))
      Multimodal.dhashPairs(
        Multimodal.imageDHash(s,
          Multimodal.synthesizePngSeeded(s, dims, "doc_id", "base", "w", "h")),
        maxDist = 3)
        .orderBy("id_a", "id_b")
    },
    "mm_scene" -> { (s, dir) =>
      // shot-boundary detection over REAL decoded MJPEG frames: the
      // luminance-jump heuristic on per-frame pixel means; the oracle
      // recomputes means from (id, f) (solid 8-aligned frames
      // roundtrip JPEG bit-exactly) and replays the same lag window
      val dims = t(s, dir, "documents").select(col("doc_id"),
        (col("doc_id") % 3 + 1).as("nf"),
        ((col("doc_id") % 4 + 1) * 8).as("w"), ((col("doc_id") % 3 + 1) * 8).as("h"))
      Multimodal.sceneCuts(
        Multimodal.decodeVideoFramesReal(s,
          Multimodal.synthesizeMjpeg(s, dims, "doc_id", "nf", "w", "h")),
        threshold = 100.0)
        .orderBy("media_id", "frame_idx")
    },
    "mm_dhash_clusters" -> { (s, dir) =>
      // the full image-dedup chain: real decode → perceptual dHash →
      // banded hamming pairs → connected components → one canonical
      // image per near-dup cluster; oracle replays the hash AND the
      // transitive closure (recursive CTE) — the image-modality
      // sibling of dedup_clusters
      val dims = t(s, dir, "documents").select(col("doc_id"),
        ((col("doc_id") % 60) * 131 + expr("doc_id DIV 60") % 4 +
          expr("doc_id DIV 1000000000") * 97).as("base"),
        ((col("doc_id") % 60) % 24 + 9).as("w"),
        ((col("doc_id") % 60) % 16 + 9).as("h"))
      // exact-hash contraction (round 14): clustering runs over the
      // DISTINCT dhash values, not the corpus — output bit-identical
      // to dedupClusters∘dhashPairs (equivalence unit test + this gate
      // row's oracle hash), but the quadratic in-group edge set never
      // materializes (sf10: 343.6M pairs → a ~240-node rep graph)
      val sigs = Multimodal.imageDHash(s,
        Multimodal.synthesizePngSeeded(s, dims, "doc_id", "base", "w", "h"))
      Multimodal.dhashClusters(
          dims.select(col("doc_id").as("media_id")), sigs, maxDist = 3)
        .orderBy("media_id")
    },
    "mm_tiles" -> { (s, dir) =>
      // crop/tile planning over REAL decoded dimensions: each image
      // splits into ceil(w/64)*ceil(h/16) tiles, edge tiles clipped —
      // the patching step a vision pipeline runs before embedding;
      // geometry from actual decode, tiles from closed form
      val dims = t(s, dir, "documents").select(col("doc_id"),
        (col("doc_id") % 150 + 1).as("w"), (col("doc_id") % 40 + 1).as("h"))
      val decoded = Multimodal.decodeImageMetaReal(s,
        Multimodal.synthesizePng(s, dims, "doc_id", "w", "h"))
      decoded.select(col("media_id"), col("width"), col("height"),
          explode(sequence(lit(0L), expr("(width - 1) DIV 64"))).as("tx"))
        .select(col("media_id"), col("width"), col("height"), col("tx"),
          explode(sequence(lit(0L), expr("(height - 1) DIV 16"))).as("ty"))
        .select(col("media_id"), col("tx"), col("ty"),
          (col("tx") * 64).as("x0"), (col("ty") * 16).as("y0"),
          least(lit(64L), col("width") - col("tx") * 64).as("tile_w"),
          least(lit(16L), col("height") - col("ty") * 16).as("tile_h"))
        .orderBy("media_id", "tx", "ty")
    },
    "mm_audio_stats" -> { (s, dir) =>
      // SAMPLE-level differential audio check (the WAV sibling of
      // mm_image_stats, one step past mm_decode_wav's header parse):
      // the full PCM body is decoded and reduced, and the oracle
      // recomputes the sums from the (id, frame, channel) formula in
      // pure SQL — a wrong byte anywhere in the codec path breaks it
      val dims = t(s, dir, "documents").select(col("doc_id"),
        (col("doc_id") % 200 + 1).as("nf"), (col("doc_id") % 2 + 1).as("ch"))
      Multimodal.audioStats(s,
        Multimodal.synthesizeWav(s, dims, "doc_id", "nf", "ch"))
        .orderBy("media_id")
    },

    // ---- events ----
    "ev_tumbling" -> { (s, dir) =>
      Sessionize.tumbling(t(s, dir, "events"), widthSeconds = 300L)
        .orderBy("window_start", "event_type")
    },
    "ev_hopping" -> { (s, dir) =>
      // sliding/hopping window: width 600s, slide 300s — every event in
      // exactly width/slide windows (batch analogue of window(ts, w, s))
      t(s, dir, "events")
        .groupBy(window(col("ts"), "600 seconds", "300 seconds"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast(DecimalType(18, 2))).cast(DoubleType).as("total"))
        .select(col("window.start").as("window_start"), col("event_type"),
          col("n"), col("total"))
        .orderBy("window_start", "event_type")
    },
    "ev_sessions" -> { (s, dir) =>
      Sessionize.sessions(t(s, dir, "events"), gapSeconds = 1800L)
        .select(col("user_id"), col("session_id"), col("n_events"),
          col("total_value"),
          unix_micros(col("session_start")).as("start_us"),
          unix_micros(col("session_end")).as("end_us"))
        .orderBy("user_id", "session_id")
    },

    // ---- native kernels exposed as SQL functions (GraftExtensions) ----
    "sql_kernels" -> { (s, dir) =>
      Tables.registerAll(s, dir)
      GraftFunctions.register(s)
      s.sql(
        """SELECT doc_id, simhash_signature(text) AS simhash,
          |  size(shingles(text, 3)) AS n_shingles,
          |  normalized_md5(text) AS fp
          |FROM documents ORDER BY doc_id""".stripMargin)
    },

    "sql_curation" -> { (s, dir) =>
      // curation functions from plain spark.sql (registered compositions)
      Tables.registerAll(s, dir)
      GraftFunctions.register(s)
      s.sql(
        """SELECT doc_id,
          |  scrub_pii(text || ' reach me: a.b@c.io / 555-123-4567') AS scrubbed,
          |  hash_bucket(doc_id, 100) AS bucket,
          |  token_count(text) AS n_tokens
          |FROM documents ORDER BY doc_id""".stripMargin)
    },

    // ---- as-of / range joins (operators stock Spark lacks) ----
    "ev_asof" -> { (s, dir) =>
      // every event annotated with the user's latest purchase value at or
      // before that moment (union + running-last window: ONE shuffle)
      val ev = t(s, dir, "events")
      val purchases = ev.filter(col("event_type") === "purchase")
        .groupBy(col("user_id"), col("ts"))
        .agg(max(col("value")).as("last_purchase_value"))
      AsOf.asofJoin(
        ev.select(col("event_id"), col("user_id"), col("ts")),
        purchases, "user_id", "ts", Seq("last_purchase_value"))
        .select(col("event_id"), col("user_id"), col("last_purchase_value"))
        .orderBy("event_id")
    },
    "ev_asof_fwd" -> { (s, dir) =>
      // forward as-of with a 1-hour tolerance: the NEXT purchase within
      // the hour (attribution lookahead); beyond-horizon matches null out
      val ev = t(s, dir, "events")
      val purchases = ev.filter(col("event_type") === "purchase")
        .groupBy(col("user_id"), col("ts"))
        .agg(max(col("value")).as("next_purchase_value"))
      AsOf.asofJoin(
        ev.select(col("event_id"), col("user_id"), col("ts")),
        purchases, "user_id", "ts", Seq("next_purchase_value"),
        direction = "forward", tolerance = Some(3600.0))
        .select(col("event_id"), col("user_id"), col("next_purchase_value"))
        .orderBy("event_id")
    },
    "ev_asof_nearest" -> { (s, dir) =>
      // nearest-in-time purchase, either direction; ties go backward
      val ev = t(s, dir, "events")
      val purchases = ev.filter(col("event_type") === "purchase")
        .groupBy(col("user_id"), col("ts"))
        .agg(max(col("value")).as("near_purchase_value"))
      AsOf.asofJoin(
        ev.select(col("event_id"), col("user_id"), col("ts")),
        purchases, "user_id", "ts", Seq("near_purchase_value"),
        direction = "nearest")
        .select(col("event_id"), col("user_id"), col("near_purchase_value"))
        .orderBy("event_id")
    },
    "ev_range" -> { (s, dir) =>
      // events inside per-user daily maintenance windows (two overlapping
      // window sets) via the bucketized interval join
      val ev = t(s, dir, "events")
      val pts = ev.select(col("event_id"), col("user_id"),
        unix_timestamp(col("ts")).as("t"))
      val days = ev.select(col("user_id"),
          unix_timestamp(date_trunc("day", col("ts"))).as("day0")).distinct()
      val ivs = days.select(col("user_id"), col("day0").as("start"),
          (col("day0") + 21600L).as("stop"))
        .unionByName(days.select(col("user_id"), (col("day0") + 10800L).as("start"),
          (col("day0") + 32400L).as("stop")))
      AsOf.rangeJoin(pts, ivs, "user_id", "t", "start", "stop", 3600L)
        .select(col("event_id"), col("user_id"), col("start"))
        .orderBy("event_id", "start")
    },

    // ---- UDF / Apply surface (§2.14) ----
    "misc_map_udf" -> { (s, dir) =>
      // Map(func, schema): row-wise Scala function with declared result type
      val rank = udf((p: String) => p.substring(0, 1).toInt * 10)
      t(s, dir, "orders")
        .select(col("o_orderkey"), rank(col("o_orderpriority")).as("prio_rank"))
        .orderBy("o_orderkey")
    },
    "misc_apply" -> { (s, dir) =>
      // Apply(func, splittable=true) → per-partition execution
      import s.implicits._
      val rows = t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
        .as[(Long, Int, Double)]
        .mapPartitions(it => it.map { case (k, n, q) => (k, n, q * 2 + 1) })
        .toDF("l_orderkey", "l_linenumber", "qty2")
      rows.orderBy("l_orderkey", "l_linenumber")
    },
    "misc_sample" -> { (s, dir) =>
      // Sample(frac) surfaced through the DETERMINISTIC hash sampler so
      // even the sampling row is fully oracle-checked (the engine-RNG
      // `Table.sample` parity API remains, unit-tested — its row set is
      // inherently engine-specific and was the one rows-only query)
      Sampling.sampleHash(t(s, dir, "lineitem"),
          concat_ws("_", col("l_orderkey"), col("l_linenumber")),
          frac = 0.1, seed = 42L)
        .select(col("l_orderkey"), col("l_linenumber"))
        .orderBy("l_orderkey", "l_linenumber")
    },

    // ---- sources: round-trips through other formats (§2.1) ----
    "src_csv_roundtrip" -> { (s, dir) =>
      val out = Scratch.landing(s, s"src_csv_roundtrip|$dir")
      t(s, dir, "region").write.mode("overwrite").option("header", "true").csv(out)
      graft.api.Table.data(s, out + "/part-00000*.csv").df
        .select(col("r_regionkey").cast(IntegerType), col("r_name"))
        .orderBy("r_regionkey")
    },
    "src_json_roundtrip" -> { (s, dir) =>
      val out = Scratch.landing(s, s"src_json_roundtrip|$dir")
      t(s, dir, "nation").write.mode("overwrite").json(out)
      s.read.json(out)
        .select(col("n_nationkey").cast(IntegerType), col("n_name"),
          col("n_regionkey").cast(IntegerType))
        .orderBy("n_nationkey")
    },
    "src_variant_json" -> { (s, dir) =>
      // Spark-4 VARIANT ingestion of semi-structured JSON (synthesized
      // deterministically from the nation fixture — the same
      // synthesize-inputs recipe as the mm_* roundtrips): parse once to
      // the binary variant encoding, then extract typed paths including
      // a nested object — the modern shapeless-JSON face of the
      // reference's datashape-driven JSON ingestion (odo/json)
      val j = concat(lit("{\"k\": "), col("n_nationkey").cast(StringType),
        lit(", \"name\": \""), col("n_name"),
        lit("\", \"region\": {\"id\": "), col("n_regionkey").cast(StringType),
        lit("}}"))
      t(s, dir, "nation").select(col("n_nationkey"), parse_json(j).as("v"))
        .select(col("n_nationkey"),
          variant_get(col("v"), "$.k", "bigint").as("k"),
          variant_get(col("v"), "$.name", "string").as("name"),
          variant_get(col("v"), "$.region.id", "bigint").as("region_id"))
        .orderBy("n_nationkey")
    },
    "src_orc_roundtrip" -> { (s, dir) =>
      val out = Scratch.landing(s, s"src_orc_roundtrip|$dir")
      t(s, dir, "supplier").write.mode("overwrite").orc(out)
      s.read.orc(out).orderBy("s_suppkey")
    },
    "src_txt_roundtrip" -> { (s, dir) =>
      // plain-text lines: the rawest source format (one string column)
      val out = Scratch.landing(s, s"src_txt_roundtrip|$dir")
      t(s, dir, "region").select(col("r_name")).write.mode("overwrite").text(out)
      graft.api.Table.data(s, out + "/part-*.txt").df
        .select(col("value").as("r_name")).orderBy("r_name")
    },
    "src_partition_prune" -> { (s, dir) =>
      // Hive-style partitioned write + pruned read: orders land
      // partitioned by priority, the read filters ONE partition —
      // at 100 TB this is the difference between scanning 1/5 of the
      // files and all of them (PartitionFilters plan-guarded in the
      // unit suite); the oracle aggregates the unpartitioned original
      val out = Scratch.landing(s, s"src_partition_prune|$dir")
      t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority"))
        .write.mode("overwrite").partitionBy("o_orderpriority").parquet(out)
      s.read.parquet(out)
        .filter(col("o_orderpriority") === "1-URGENT")
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast(DecimalType(18, 2))).cast(DoubleType).as("total"))
    },
    "src_gzip_roundtrip" -> { (s, dir) =>
      // gzip-compressed text — how crawl dumps actually arrive. Spark
      // decompresses .gz transparently on read; the scale caveat is
      // that gzip is NOT splittable (one file = one task), so ingest
      // keeps many files rather than few big ones — the fixture writes
      // per-partition .gz parts exactly as a distributed dump would
      val out = Scratch.landing(s, s"src_gzip_roundtrip|$dir")
      t(s, dir, "region").select(col("r_name"))
        .write.mode("overwrite").option("compression", "gzip").text(out)
      graft.api.Table.data(s, out + "/part-*.txt.gz").df
        .select(col("value").as("r_name")).orderBy("r_name")
    },
    "src_binary_roundtrip" -> { (s, dir) =>
      // binaryFile ingestion — the multimodal-corpus entry path: a
      // directory of encoded image FILES → (path, content) rows → REAL
      // decode. Files are materialized by a tiny setup loop (25 rows;
      // binaryFile is a read-only source by design) and ids recovered
      // from filenames, the layout a real image corpus has.
      // a fresh landed dir each run; the files go through java.io, so
      // they are written at the dir's local path
      val out = Scratch.landing(s, s"src_binary_roundtrip|$dir")
      val local = new org.apache.hadoop.fs.Path(out).toUri.getPath
      val dims = t(s, dir, "nation").select(
        col("n_nationkey").cast(LongType).as("doc_id"),
        (col("n_nationkey") % 31 + 1).as("w"), (col("n_nationkey") % 17 + 1).as("h"))
      Multimodal.synthesizePng(s, dims, "doc_id", "w", "h").collect().foreach { r =>
        java.nio.file.Files.write(
          java.nio.file.Paths.get(local, s"img_${r.getLong(0)}.png"),
          r.getAs[Array[Byte]](1))
      }
      val files = graft.api.Table.dataBinary(s, out, glob = "*.png").df
        .select(regexp_extract(col("path"), "img_(\\d+)\\.png$", 1)
          .cast(LongType).as("media_id"), col("content").as("payload"))
      Multimodal.decodeImageMetaReal(s, files).orderBy("media_id")
    },
    "src_spider" -> { (s, dir) =>
      // dataset auto-discovery (the reference server's spider, as a
      // catalog table): materialize a mixed-format data root — csv,
      // json, and parquet datasets, each a Spark-written DIRECTORY —
      // then walk it; the oracle derives the column counts
      // independently from information_schema over the same tables
      val root = Scratch.landing(s, s"src_spider|$dir")
      t(s, dir, "region").write.mode("overwrite")
        .option("header", "true").csv(root + "/region")
      t(s, dir, "nation").write.mode("overwrite").json(root + "/nation")
      t(s, dir, "supplier").write.mode("overwrite").parquet(root + "/supplier")
      graft.sources.Spider.discover(s, root)
        .select(col("dataset"), col("format"), col("n_cols"))
        .orderBy("dataset")
    },
    // ---- N-D arrays over coordinate representation (§2.12) ----
    "arr_transpose" -> { (s, dir) =>
      // embeddings as a (vec × dim) matrix in coordinate form, then the
      // numpy-default all-axes-reversed transpose — a pure projection,
      // no shuffle (the plan is Scan→Generate→Project, codegen'd)
      val coo = t(s, dir, "embeddings")
        .select(col("vec_id"), posexplode(col("embedding")))
        .select(col("vec_id"), col("pos").cast(LongType).as("pos"), col("col").as("v"))
      Tensor.transpose(coo, Seq("vec_id", "pos"), "v")
        .orderBy("d0", "d1")
    },
    "arr_axis_sum" -> { (s, dir) =>
      // axis-0 reduction over the COO matrix (column sums): quantized
      // ints so the partial/final sum is exact in any order/engine —
      // one partial-agg shuffle of ≤ dim rows per map partition
      val coo = t(s, dir, "embeddings")
        .select(col("vec_id"), posexplode(col("embedding")))
        .select(col("pos").cast(LongType).as("pos"),
          floor(col("col").cast(DoubleType) * 1000).cast(LongType).as("q"))
      coo.groupBy("pos").agg(sum(col("q")).as("v")).orderBy("pos")
    },
    "arr_normalize" -> { (s, dir) =>
      // unit-normalize each vector: norm via the exact left-fold dot
      // kernel, then one IEEE division per element (both correctly
      // rounded → bit-identical cross-engine); zero vectors → NULLs
      val emb = t(s, dir, "embeddings")
      emb.select(col("vec_id"),
          Similarity.norm2(col("embedding")).as("norm"),
          posexplode(col("embedding")))
        .select(col("vec_id"), col("pos").cast(LongType).as("pos"),
          (col("col").cast(DoubleType) /
            when(col("norm") =!= 0.0, col("norm"))).as("u"))
        .filter(col("pos") < 3) // 3 dims keep the compare table small
        .orderBy("vec_id", "pos")
    },
    "arr_matmul" -> { (s, dir) =>
      // Gram matrix Eᵀ·E over QUANTIZED embeddings (floor(v·1000) —
      // integer products sum exactly in any order, so the cross-engine
      // check is bit-exact; float Gram would depend on reduction order).
      // tensordot contracts the vec axis: shuffle join on vec_id,
      // partial-aggregated sum over the (dim × dim) free axes.
      val coo = t(s, dir, "embeddings")
        .select(col("vec_id"), posexplode(col("embedding")))
        .select(col("vec_id"), col("pos").cast(LongType).as("pos"),
          floor(col("col").cast(DoubleType) * 1000).cast(LongType).as("q"))
      Tensor.tensordot(coo, coo, Seq("vec_id", "pos"), Seq("vec_id", "pos"),
          contract = Seq("vec_id" -> "vec_id"), "q", "q")
        .orderBy("d0", "d1")
    },
    "arr_pca" -> { (s, dir) =>
      // leading principal axis of the embedding corpus: exact-integer
      // scatter matrix + 8 quantized power-iteration rounds (the
      // stationary-dist determinism recipe on eigenvectors); oracle
      // unrolls the identical arithmetic in SQL. The d×d driver loop
      // is dimension-bounded (the broadcast-centroids pattern), all
      // data-proportional work stays in the exploded self-join
      Pca.topComponent(t(s, dir, "embeddings"), "embedding", "vec_id",
          iters = 8)
        .orderBy("d")
    },
    "arr_pca_witness" -> { (s, dir) =>
      // NON-REPLAY witness for arr_pca (VERDICT r15 #7, the
      // ev_holt_ramp planted-geometry pattern): every vector is
      // planted on ONE exact integer direction u = (3, 4) —
      // v_i = t_i·(3/1024, 4/1024), t_i = vec_id%7+1, all dyadic so
      // quantization is exact — making the scatter matrix EXACTLY
      // rank-1 (c·uuᵀ, c > 0 since t varies). The quantized power
      // iteration is then stationary from round 1 at the closed-form
      // axis ⌊u·2²⁰/max(u)⌋ = (786432, 1048576): loadings 0.75 and
      // 1.0 EXACTLY, for ANY iteration count, corpus size, or t
      // distribution. Exactness of every IEEE step holds because the
      // renorm's BigInt→double conversions carry ≤53 significant bits
      // (odd part ≤ 21·(nΣt²−(Σt)²) ≤ 21·49n², safe to n ≈ 2.4M; the
      // 1-in-16 vec_id sample keeps n far below that at any sf and the
      // double execution cheap) and the final quotient 0.75·2²⁰ is
      // representable. The oracle states the two literals plus an
      // independent sample count — no scatter matrix, no power rounds,
      // no quantization anywhere — so a mean-centering, sign-fix, or
      // renorm bug fails here while arr_pca's replaying oracle would
      // follow it.
      val smp = t(s, dir, "embeddings").filter(col("vec_id") % 16 === 0)
      val tt = (col("vec_id") % 7 + 1).cast(DoubleType)
      val planted = smp.select(col("vec_id"),
        array(tt * lit(3.0 / 1024), tt * lit(4.0 / 1024)).as("embedding"))
      Pca.topComponent(planted, "embedding", "vec_id", iters = 8)
        .crossJoin(broadcast(planted.agg(count(lit(1)).as("n_vecs"))))
        .orderBy("d")
    },
    "arr_pca_project" -> { (s, dir) =>
      // the usable face of arr_pca: every embedding's coordinate along
      // the leading axis (the 1-D ordering a curriculum sampler or
      // coarse index sorts by) — per-row zip_with fold against the
      // literal axis, integer until the final exact power-of-two
      // division, scan speed
      Pca.projectTop(t(s, dir, "embeddings"), "embedding", "vec_id",
          iters = 8)
        .orderBy("vec_id")
    },
    "arr_pca2" -> { (s, dir) =>
      // top-2 axes (the 2-D corpus-map coordinates): second axis by
      // deflation — exact integer orthogonalization against the first
      // between quantized power rounds (sign-invariant in v1, bounded
      // ~2^66 so the oracle's HUGEINT replay never wraps)
      Pca.topComponents2(t(s, dir, "embeddings"), "embedding", "vec_id",
          iters = 8)
        .orderBy("d")
    },

    "src_xml_roundtrip" -> { (s, dir) =>
      // Spark 4 ships XML as a CORE data source (the former spark-xml
      // package): one <ROW> element per record. Numbers infer back as
      // long, so cast to the parquet schema like the JSON roundtrip.
      val out = Scratch.landing(s, s"src_xml_roundtrip|$dir")
      t(s, dir, "nation").write.mode("overwrite").option("rowTag", "ROW").xml(out)
      graft.api.Table.data(s, out + "/part-*.xml").df
        .select(col("n_nationkey").cast(IntegerType), col("n_name"),
          col("n_regionkey").cast(IntegerType))
        .orderBy("n_nationkey")
    },

    // ---- incremental refresh (MERGE primitives) + layout ----
    "inc_upsert" -> { (s, dir) =>
      // updates (price bump on keys %7) + inserts (shifted new keys);
      // the change-key anti join is broadcast — no exchange on the base
      val base = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      val updates = base.filter(col("o_orderkey") % 7 === 0)
        .withColumn("o_totalprice", col("o_totalprice") * lit(1.1))
      val inserts = base.filter(col("o_orderkey") % 1000 === 0)
        .select((col("o_orderkey") + 20000000L).as("o_orderkey"),
          lit("N").as("o_orderstatus"), col("o_totalprice"))
      Incremental.upsert(base, updates.unionByName(inserts), Seq("o_orderkey"))
        .orderBy("o_orderkey")
    },
    "inc_upsert_evolve" -> { (s, dir) =>
      // schema evolution: the change batch carries a NEW column
      // (crawl_tag) the base never had — old base rows come back with
      // explicit NULLs for it, changed/inserted rows carry the value
      val base = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      val changes = base.filter(col("o_orderkey") % 7 === 0)
        .withColumn("o_totalprice", col("o_totalprice") * lit(1.1))
        .withColumn("crawl_tag", concat(lit("crawl-"), (col("o_orderkey") % 3).cast(StringType)))
      Incremental.upsert(base, changes, Seq("o_orderkey"),
          allowMissingColumns = true)
        .orderBy("o_orderkey")
    },
    "inc_forget" -> { (s, dir) =>
      // right-to-be-forgotten with referential cascade: tombstoned
      // customer keys delete customers, their orders, and those orders'
      // lineitems — each hop one broadcast semi join (deleted keys <<
      // child), audited per table so the deletion request has evidence
      val tomb = t(s, dir, "customer")
        .filter(col("c_custkey") % 19 === 0).select(col("c_custkey"))
      Incremental.forgetCascade(tomb, Seq("c_custkey"), Seq(
          ("customer", t(s, dir, "customer"), Seq("c_custkey"), Seq("c_custkey")),
          ("orders", t(s, dir, "orders"), Seq("o_custkey"), Seq("o_orderkey")),
          ("lineitem", t(s, dir, "lineitem"), Seq("l_orderkey"), Seq("l_orderkey"))))
        .orderBy("table_name")
    },
    "inc_scd2_lookup" -> { (s, dir) =>
      // the read side of SCD2: every order joined to the dimension
      // version valid AT its order date (equi-join on the key + the
      // validity-interval residual — each key carries <= 2 versions,
      // so the post-join filter is constant work; facts with no valid
      // version at their date drop out, the inner as-of contract)
      val cust = t(s, dir, "customer")
      val dim = cust.select(col("c_custkey"), col("c_mktsegment").as("segment"),
          lit("1995-01-01 00:00:00").cast(TimestampType).as("valid_from"),
          lit(null).cast(TimestampType).as("valid_to"))
        .unionByName(cust.filter(col("c_custkey") % 11 === 0)
          .select(col("c_custkey"), lit("OLD").as("segment"),
            lit("1990-01-01 00:00:00").cast(TimestampType).as("valid_from"),
            lit("1995-01-01 00:00:00").cast(TimestampType).as("valid_to")))
      t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"))
        .join(dim, col("o_custkey") === col("c_custkey") &&
          col("valid_from") <= col("o_orderdate") &&
          (col("valid_to").isNull || col("o_orderdate") < col("valid_to")))
        .select(col("o_orderkey"), col("c_custkey"), col("segment"))
        .orderBy("o_orderkey")
    },
    "inc_scd2" -> { (s, dir) =>
      // versioned dimension merge: customers with synthesized history
      // rows (every 11th key has a closed OLD version), a change batch
      // that mixes real updates, no-op images (suppressed), and brand-
      // new keys — one broadcast pass over the dim, full history kept
      val cust = t(s, dir, "customer")
      val dim = cust.select(col("c_custkey"), col("c_mktsegment").as("segment"),
          lit("1995-01-01 00:00:00").cast(TimestampType).as("valid_from"),
          lit(null).cast(TimestampType).as("valid_to"),
          lit(true).as("is_current"))
        .unionByName(cust.filter(col("c_custkey") % 11 === 0)
          .select(col("c_custkey"), lit("OLD").as("segment"),
            lit("1990-01-01 00:00:00").cast(TimestampType).as("valid_from"),
            lit("1995-01-01 00:00:00").cast(TimestampType).as("valid_to"),
            lit(false).as("is_current")))
      val changes = cust.filter(col("c_custkey") % 5 === 0)
        .select(col("c_custkey"),
          when(col("c_custkey") % 10 === 0, col("c_mktsegment"))
            .otherwise(concat(lit("SEG_"), (col("c_custkey") % 3).cast(StringType)))
            .as("segment"))
        .unionByName(cust.filter(col("c_custkey") % 97 === 0)
          .select((col("c_custkey") + 1000000).as("c_custkey"),
            lit("NEWSEG").as("segment")))
      Incremental.scdType2(dim, changes, Seq("c_custkey"),
          effective = lit("2024-06-01 00:00:00").cast(TimestampType))
        .orderBy("c_custkey", "valid_from")
    },
    "inc_cdc" -> { (s, dir) =>
      // one CDC batch: updates (op U), inserts (op I), tombstones (op D,
      // disjoint from the update keys so each key has ONE operation)
      val base = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      val changes =
        base.filter(col("o_orderkey") % 7 === 0)
          .withColumn("o_totalprice", col("o_totalprice") * lit(1.1))
          .withColumn("op", lit("U"))
        .unionByName(base.filter(col("o_orderkey") % 1000 === 0)
          .select((col("o_orderkey") + 20000000L).as("o_orderkey"),
            lit("N").as("o_orderstatus"), col("o_totalprice"), lit("I").as("op")))
        .unionByName(base.filter(col("o_orderkey") % 97 === 0 && col("o_orderkey") % 7 =!= 0)
          .withColumn("op", lit("D")))
      Incremental.applyCdc(base, changes, Seq("o_orderkey"))
        .orderBy("o_orderkey")
    },
    "inc_diff" -> { (s, dir) =>
      // snapshotDiff recovers the change set between the base and its
      // CDC-applied result (the inc_cdc scenario re-derived): I for the
      // shifted inserts, D for the tombstoned keys, U where the price
      // bump changed the row — unchanged rows omitted
      val base = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      val changes =
        base.filter(col("o_orderkey") % 7 === 0)
          .withColumn("o_totalprice", col("o_totalprice") * lit(1.1))
          .withColumn("op", lit("U"))
        .unionByName(base.filter(col("o_orderkey") % 1000 === 0)
          .select((col("o_orderkey") + 20000000L).as("o_orderkey"),
            lit("N").as("o_orderstatus"), col("o_totalprice"), lit("I").as("op")))
        .unionByName(base.filter(col("o_orderkey") % 97 === 0 && col("o_orderkey") % 7 =!= 0)
          .withColumn("op", lit("D")))
      val after = Incremental.applyCdc(base, changes, Seq("o_orderkey"))
      Incremental.snapshotDiff(base, after, Seq("o_orderkey"))
        .orderBy("o_orderkey")
    },
    "inc_agg_refresh" -> { (s, dir) =>
      // maintained rollup: base = keys %5 != 0, batch = the %5 == 0
      // appends folded in WITHOUT rescanning base facts. DECIMAL sums so
      // the two-stage fold is bit-equal to the oracle's FULL RECOMPUTE
      // over all orders — an independent formulation, not a mirror.
      val orders = t(s, dir, "orders")
      def dsum18(c: org.apache.spark.sql.Column) = c.cast(DecimalType(18, 2))
      val base = orders.filter(col("o_orderkey") % 5 =!= 0)
      val batch = orders.filter(col("o_orderkey") % 5 === 0)
      val agg0 = base.groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"), sum(dsum18(col("o_totalprice"))).as("total"))
      Incremental.refreshSumCounts(agg0, batch, Seq("o_orderstatus"),
          Seq("total" -> dsum18(col("o_totalprice"))))
        .select(col("o_orderstatus"), col("n"),
          col("total").cast(DoubleType).as("total"))
        .orderBy("o_orderstatus")
    },
    "inc_clusters" -> { (s, dir) =>
      // incremental dedup clustering: the standing corpus (doc_id %5
      // != 0) is clustered once over md5-ordered chain edges; the new
      // batch (doc_id %5 == 0) arrives with pairs linking new->old
      // (d, d-1) and new->new (d, d-5). mergeClusters folds the batch
      // in by contracting pairs onto PRIOR LABELS and running CC over
      // that O(|pairs|) supervertex graph only — never re-walking the
      // corpus — and must land bit-identical to the oracle's
      // from-scratch recursive-CTE closure over the UNION graph.
      import org.apache.spark.sql.expressions.Window
      val docs = t(s, dir, "documents")
      val oldDocs = docs.filter(col("doc_id") % 5 =!= 0)
      val newDocs = docs.filter(col("doc_id") % 5 === 0)
      val keyed = oldDocs.select(col("doc_id"),
        md5(concat(lit("inc:"), col("doc_id").cast(StringType))).as("_k"),
        graft.plans.HashBucket(
          concat(lit("inc:"), col("doc_id").cast(StringType)), 5).as("_g"))
      val nxt = lead(col("doc_id"), 1)
        .over(Window.partitionBy(col("_g")).orderBy(col("_k"), col("doc_id")))
      val oldEdges = keyed.select(col("doc_id").as("src"), nxt.as("dst"))
        .filter(col("dst").isNotNull)
      val prev = Cluster.connectedComponents(
        oldDocs.select(col("doc_id").as("id")), oldEdges)
      val ids = docs.select(col("doc_id").as("id_b"))
      def link(off: Int) = newDocs
        .select(col("doc_id").as("id_a"), (col("doc_id") - off).as("id_b"))
        .join(ids, Seq("id_b"), "left_semi")
      Incremental.mergeClusters(prev,
          newDocs.select(col("doc_id").as("id")),
          link(1).unionByName(link(5)))
        .select(col("id").as("doc_id"), col("label").as("cluster_id"))
        .orderBy("doc_id")
    },
    "dedup_incremental" -> { (s, dir) =>
      // incoming batch (doc_id >= 250) deduped against the standing
      // corpus (doc_id < 250): cross-set LSH candidates + jaccard verify
      val docs = t(s, dir, "documents")
      Incremental.dedupAgainstCorpus(docs.filter(col("doc_id") < 250),
          docs.filter(col("doc_id") >= 250), threshold = 0.3)
        .orderBy("doc_id")
    },
    "dedup_containment" -> { (s, dir) =>
      // asymmetric containment near-dup (boilerplate / subset-duplicate
      // detection): LSH candidates + exact |A∩B|/|A| both directions
      Dedup.containmentPairs(t(s, dir, "documents"), threshold = 0.5)
        .orderBy("id_a", "id_b")
    },
    "dedup_spans" -> { (s, dir) =>
      // per-doc duplicated 5-gram span fraction (boilerplate signal):
      // spans travel as 48-bit hashes, shared set = one partial
      // aggregate + semi join — per-doc cost, never per-pair
      Dedup.duplicatedSpanStats(t(s, dir, "documents"), n = 5)
        .orderBy("doc_id")
    },
    "dedup_span_removal" -> { (s, dir) =>
      // the transform sibling: excise every cross-doc-shared 5-gram
      // span, keep the rest of each document (Lee et al. 2022 shape)
      Dedup.removeDuplicatedSpans(t(s, dir, "documents"), n = 5)
        .orderBy("doc_id")
    },
    "text_cooccur" -> { (s, dir) =>
      // windowed skip-gram co-occurrence + quantized PMI (collocation
      // mining / embedding prep); frequency floor 5
      TextFunctions.cooccurrencePmi(t(s, dir, "documents"), window = 2, minCount = 5L)
        .orderBy("w1", "w2")
    },
    "text_lm_score" -> { (s, dir) =>
      // corpus-trained bigram LM quality score (CCNet perplexity-filter
      // shape) in engine-exact ilog2 quantization
      TextFunctions.lmQualityScore(t(s, dir, "documents")).orderBy("doc_id")
    },
    "dedup_lines" -> { (s, dir) =>
      // corpus-wide duplicate-line removal (C4-style "all but one") +
      // doc reassembly. The fixture's texts are single-line, so both
      // engines first derive the IDENTICAL multi-line structure: lines
      // = disjoint 8-token chunks joined with \n. Token array
      // materialized in its own projection (interpreted-lambda split
      // re-runs per element otherwise — see bigramInstances)
      val ts = col("_ts")
      val lines = transform(
        sequence(lit(1), ceil(size(ts).cast(DoubleType) / lit(8.0)).cast(IntegerType)),
        i => concat_ws(" ", slice(ts, (i - lit(1)) * lit(8) + lit(1), lit(8))))
      Dedup.dedupLines(t(s, dir, "documents")
          .select(col("doc_id"), TextFunctions.tokens(col("text")).as("_ts"))
          .select(col("doc_id"), array_join(lines, "\n").as("text")))
        .orderBy("doc_id")
    },
    "dedup_bloom" -> { (s, dir) =>
      // bloom-filter decontamination: one fixed-memory bitmap pass over
      // the corpus half, then the incoming half is filtered MAP-SIDE
      // against the broadcast-sized bitmap — no join, no corpus rescan.
      // Output = incoming docs the bloom certifies DEFINITELY novel
      // (no-false-negative side of the contract); the oracle replays
      // the salted-md5 positions relationally (position-set semi join)
      // — two unrelated formulations of the same membership math
      val docs = t(s, dir, "documents")
      val (mBits, k) = (1024, 5) // pinned (and small: the compare must also reproduce the exact false-positive pattern, not just the easy all-novel case)
      val words = Bloom.build(docs.filter(col("doc_id") % 2 === 0), col("text"), mBits, k)
      Bloom.filterNovel(docs.filter(col("doc_id") % 2 === 1), words, mBits, k, col("text"))
        .select(col("doc_id"))
        .orderBy("doc_id")
    },
    "lay_hilbert" -> { (s, dir) =>
      // Hilbert sort key over the same (p_size, p_partkey mod 256)
      // plane as lay_zorder — consecutive keys are grid neighbors, so
      // per-file min/max bounds stay tighter than Morton at the
      // power-of-two seams
      val p = t(s, dir, "part")
      p.select(col("p_partkey"), col("p_size"),
          Layout.hilbertValue(col("p_size"), col("p_partkey") % 256, 8).as("h"))
        .orderBy("h", "p_partkey").limit(200)
    },
    "lay_zorder" -> { (s, dir) =>
      // z-order sort key over (p_size, p_partkey mod 256) — the write-
      // side clustering that keeps parquet min/max stats tight on both
      // columns at once (see Layout.zorderBy for the file-level form)
      val p = t(s, dir, "part")
      p.select(col("p_partkey"), col("p_size"),
          Layout.zValue(Seq(col("p_size"), col("p_partkey") % 256), 8).as("z"))
        .orderBy("z", "p_partkey").limit(200)
    },
    "pipe_contrastive" -> { (s, dir) =>
      // end-to-end contrastive training-pair construction: near-dup
      // pairs (minhash-LSH candidates + jaccard verify) as
      // anchor/positive, 2 seeded negatives per anchor from the
      // shuffle-position walk; a negative colliding with the positive
      // is dropped (standard pair-corruption guard)
      val docs = t(s, dir, "documents")
      val pos = Dedup.minhashPairs(docs, threshold = 0.3)
        .select(col("id_a").as("anchor"), col("id_b").as("positive"))
      val neg = Sampling.negatives(docs, "doc_id", m = 2, seed = 42L)
        .withColumnRenamed("doc_id", "anchor")
      pos.join(neg, "anchor")
        .filter(col("neg_id") =!= col("positive"))
        .orderBy("anchor", "positive", "neg_rank")
    },
    "sample_negatives" -> { (s, dir) =>
      // 3 reproducible contrastive negatives per document (never the
      // anchor itself) — the offset walk over the seeded shuffle's
      // dense positions; one balanced self-join on long positions
      Sampling.negatives(t(s, dir, "documents"), "doc_id", m = 3, seed = 42L)
        .orderBy("doc_id", "neg_rank")
    },
    "lay_shuffle" -> { (s, dir) =>
      // seeded reproducible global shuffle for training export: md5-
      // keyed total order (cross-engine recomputable) + exact global
      // position via the funnel-free SortedPages index — NOT a
      // single-partition row_number window
      Layout.shuffled(t(s, dir, "documents").select(col("doc_id"), col("source")),
        Seq(col("doc_id")), seed = 42L)
    },

    // ---- data-quality validation gates ----
    "profile_columns" -> { (s, dir) =>
      // admission profile of a dump: null rate + exact cardinality per
      // column in ONE scan; returnflag deliberately nulled on 'N' so
      // the null-counting path is exercised (fixture has no natural
      // NULLs)
      val li = t(s, dir, "lineitem").select(
        col("l_orderkey"),
        when(col("l_returnflag") === "N", lit(null).cast(StringType))
          .otherwise(col("l_returnflag")).as("returnflag_holed"),
        col("l_shipdate"))
      Validate.columnProfile(li, Seq("l_orderkey", "returnflag_holed", "l_shipdate"))
        .orderBy("col_name")
    },
    "profile_drift" -> { (s, dir) =>
      // dump-over-dump drift: profile the even- and odd-orderkey halves
      // as two "dumps" and report the per-column deltas a quarantine
      // gate thresholds on
      val li = t(s, dir, "lineitem").select(col("l_orderkey"),
        when(col("l_returnflag") === "N", lit(null).cast(StringType))
          .otherwise(col("l_returnflag")).as("returnflag_holed"),
        col("l_quantity"))
      Validate.profileDrift(
          li.filter(col("l_orderkey") % 2 === 0),
          li.filter(col("l_orderkey") % 2 === 1),
          Seq("returnflag_holed", "l_quantity"))
        .orderBy("col_name")
    },
    "profile_benford" -> { (s, dir) =>
      // fabricated-data screen: leading-digit mix of order totals vs
      // the Benford expectation — integer weight table shared with the
      // oracle, deviation as an exact cross product
      Validate.benford(t(s, dir, "orders"), "o_totalprice")
        .orderBy("digit")
    },
    "profile_psi" -> { (s, dir) =>
      // drift gate: population-stability contributions of the
      // event-type mix between two user cohorts (floor-log2 quantized,
      // add-one smoothed, exact int64) — a large contrib_q names WHICH
      // category moved
      val ev = t(s, dir, "events")
      Validate.populationStability(
          ev.filter(col("user_id") % 2 === 0),
          ev.filter(col("user_id") % 2 === 1),
          "event_type")
        .orderBy("category")
    },
    "priv_kanon" -> { (s, dir) =>
      // k-anonymity / l-diversity audit: equivalence classes over the
      // (segment, nation) quasi-identifiers with exact sensitive-value
      // diversity — the structural privacy gate beside scrubPii
      // (content) and inc_forget (deletion)
      Validate.kAnonymity(t(s, dir, "customer"),
          Seq("c_mktsegment", "c_nationkey"), "c_acctbal", k = 10L, l = 10L)
        .orderBy("c_mktsegment", "c_nationkey")
    },
    "priv_tclose" -> { (s, dir) =>
      // t-closeness audit: per-nation total-variation distance of the
      // market-segment distribution from the global one — catches the
      // attribute-disclosure leak k/l-anonymity misses (a class can be
      // large AND diverse yet 90% one sensitive value). Exact
      // cross-multiplied integer arithmetic; the oracle replays the
      // identical rational formula
      Validate.tCloseness(t(s, dir, "customer"),
          Seq("c_nationkey"), "c_mktsegment", t = 0.1)
        .orderBy("c_nationkey")
    },
    "misc_validate" -> { (s, dir) =>
      // admission checks before a dump joins the corpus: all row-level
      // predicates fold into ONE scan; uniqueness is one aggregate; the
      // FK check runs against a deliberately holed dimension (every
      // 97th key removed) so the dangling-reference path is exercised
      val cust = t(s, dir, "customer")
      Validate.checkRules(cust, Seq(
          "acctbal_nonneg" -> (col("c_acctbal") >= 0),
          "name_nonempty" -> (length(col("c_name")) > 0),
          // HOUSEHOLD deliberately missing from the allowed set
          "segment_known" -> col("c_mktsegment")
            .isin("AUTOMOBILE", "BUILDING", "FURNITURE", "MACHINERY")))
        .unionByName(Validate.checkUnique(cust, Seq("c_custkey")))
        .unionByName(Validate.checkForeignKey(t(s, dir, "orders"), "o_custkey",
          cust.filter(col("c_custkey") % 97 =!= 0), "c_custkey",
          rule = "fk_orders_holed_dim"))
        .orderBy("rule")
    },

    // ---- deterministic sketches (§2.7 approx-reduction extensions) ----
    "red_nunique_kmv" -> { (s, dir) =>
      // engine-portable approx distinct count: KMV over a 48-bit md5
      // space, k=64 smallest via the bounded TopKByScore aggregate,
      // (k-1)*space div h_k in exact int64 — the oracle replays the
      // estimator verbatim (vs approx_count_distinct, whose HLL++
      // register layout no other engine can reproduce)
      graft.operators.Sketch.kmvDistinct(
        t(s, dir, "orders").select(
          year(col("o_orderdate")).cast(LongType).as("oyear"), col("o_custkey")),
        col("o_custkey"), Seq("oyear"), k = 64)
        .orderBy("oyear")
    },
    "red_kmv_overlap" -> { (s, dir) =>
      // corpus-overlap estimate between two source halves from two
      // k-integer KMV states (theta-sketch set op over 3-token
      // shingles): shared-content estimate WITHOUT joining the corpora
      // — the sketch face of decontam_ngram; oracle replays the
      // estimator verbatim
      val docs = t(s, dir, "documents")
        .withColumn("_sn", expr("CAST(SUBSTR(source, 4) AS INT)"))
      def side(p: org.apache.spark.sql.Column => org.apache.spark.sql.Column) =
        docs.filter(p(col("_sn")))
        .select(explode(graft.functions.TextFunctions.shingles(col("text"), 3)).as("sh"))
      graft.operators.Sketch.kmvOverlap(
        side(_ < 10), side(_ >= 10), col("sh"), k = 64)
    },
    "red_quantile_sampled" -> { (s, dir) =>
      // per-language median token count from a 25% deterministic hash
      // sample: the sampled sibling of text_quantiles — the window sort
      // runs over the sample only, never the full corpus
      graft.operators.Sketch.quantileSampled(
        t(s, dir, "documents"),
        value = size(TextFunctions.tokens(col("text"))).cast(LongType),
        key = col("doc_id"), groupCols = Seq("lang"), qNum = 1, qDen = 2,
        frac = 0.25, seed = 7)
        .orderBy("lang")
    },

    // ---- caching (§1.1 CachedDataset) ----
    "misc_cached" -> { (s, dir) =>
      // cache only the columns the two aggregates read — at 100 TB you
      // cache a projection, never the full fact table
      val li = t(s, dir, "lineitem")
        .select(col("l_returnflag"), col("l_quantity")).cache()
      val a = li.groupBy(col("l_returnflag")).agg(count(lit(1)).as("n"))
      val b = li.groupBy(col("l_returnflag"))
        .agg(sum(col("l_quantity").cast(DecimalType(18, 2))).cast(DoubleType).as("q"))
      val res = a.join(b, Seq("l_returnflag")).orderBy("l_returnflag")
      // materialize THROUGH the cache, then release it so later queries
      // (Bench runs alphabetically) aren't silently served from the
      // InMemoryRelation — the cache demo must not skew other timings.
      res.count()
      li.unpersist()
      res
    },

    "stream_bloom_novel" -> { (s, dir) =>
      // the deployment shape of dedup_bloom: model built ONCE on the
      // standing corpus (batch), incoming crawl filtered AS A STREAM;
      // Bloom.filterNovel is a stateless map-side predicate, so it runs
      // unchanged under structured streaming (no state store, no
      // watermark; the whole filter rides inside each micro-batch)
      val docs = t(s, dir, "documents")
      val (mBits, k) = (1024, 5)
      val words = Bloom.build(docs.filter(col("doc_id") % 2 === 0),
        col("text"), mBits, k)
      val src = Tables.stream(s, dir, "documents").filter(col("doc_id") % 2 === 1)
      StreamRun(s, "stream_bloom_sink",
          Bloom.filterNovel(src, words, mBits, k, col("text")).select("doc_id"),
          "append", StreamRun.Memory)()
        .orderBy("doc_id")
    }
  ) ++ streamGates

  // =================================================================
  def oracleSql: Map[String, String] = {
    // ---- generated fragments from shared constants ----
    // noisy URL synthesis + domain extraction (mirrors noisyUrlText /
    // TextFunctions.extractDomains; the regex is the shared SPEC, the
    // two regex engines and normalization executions are independent)
    // unrolled power iterations over the transition counts, same floor
    // arithmetic as the library loop; shared by ev_stationary (direct)
    // and ev_stationary_relabel (the engine relabels + maps back, so the
    // original-label oracle doubles as the equivariance witness)
    val sqlStationary = {
      val steps = (1 to 3).map { i =>
        val p = s"p${i - 1}"
        s"""c$i AS (SELECT next_type AS state,
           |    CAST(SUM(FLOOR(CAST(pi * transitions AS DOUBLE) / CAST(o.out AS DOUBLE))) AS BIGINT) AS s
           |  FROM tr JOIN o USING (prev_type) JOIN $p ON $p.state = tr.prev_type
           |  GROUP BY next_type),
           |p$i AS (SELECT st.state, coalesce(c$i.s, 0) AS pi
           |  FROM st LEFT JOIN c$i ON c$i.state = st.state)""".stripMargin
      }.mkString(",\n")
      s"""WITH base AS (SELECT user_id, event_type, ts, event_id,
         |  lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type FROM events),
         |tr AS (SELECT prev_type, event_type AS next_type, count(*) AS transitions
         |  FROM base WHERE prev_type IS NOT NULL GROUP BY 1, 2),
         |o AS (SELECT prev_type, CAST(SUM(transitions) AS BIGINT) AS out FROM tr GROUP BY 1),
         |st AS (SELECT DISTINCT state FROM
         |  (SELECT prev_type AS state FROM tr UNION SELECT next_type FROM tr)),
         |p0 AS (SELECT state, CAST(1000000 AS BIGINT) AS pi FROM st),
         |$steps
         |SELECT state, CAST(pi AS BIGINT) AS pi FROM p3 ORDER BY state""".stripMargin
    }
    val sqlNoisyUrl =
      "text || ' read https://www.d' || CAST(doc_id % 37 AS VARCHAR) || '.example.' || " +
        "(CASE doc_id % 3 WHEN 0 THEN 'com' WHEN 1 THEN 'org' ELSE 'net' END) || " +
        "'/page/' || CAST(doc_id AS VARCHAR) || ' now'"
    val sqlDomains =
      s"list_distinct(list_transform(regexp_extract_all(t2, '${TextFunctions.UrlPattern}', 0), " +
        "u -> regexp_replace(regexp_replace(lower(u), '^(?:https?://)?(?:www\\.)?', ''), '\\.+$', '')))"
    val mhExprs = (0 until Dedup.NumPerms).map { j =>
      s"list_min(list_transform(hs, h -> (h * ${Dedup.MinhashA(j)} + ${Dedup.MinhashB(j)}) % ${Dedup.MinhashP})) AS mh$j"
    }.mkString(",\n  ")
    val nBands = Dedup.NumPerms / Dedup.BandRows
    val bandSelects = (0 until nBands).map { b =>
      val key = (0 until Dedup.BandRows)
        .map(r => s"mh${b * Dedup.BandRows + r}").mkString(" || '_' || ")
      s"SELECT doc_id, $b AS band, $key AS bkey FROM sig"
    }.mkString("\n  UNION ALL ")
    // full minhash-LSH pair pipeline over n-gram shingles (mirrors
    // Dedup.minhashPairs / ngramJaccardPairs for any n / threshold)
    // jaccard is over DISTINCT HASHED shingle sets (hsd) — mirroring
    // Dedup.jaccardVerify's long-array representation; the signature CTE
    // keeps the raw hs list (duplicates cannot change a min).
    // Exposed as a CTE chain ending in `pairs` so dedup_clusters can
    // extend it with a recursive closure.
    def minhashCandCtes(n: Int): String =
      s"""t AS (SELECT doc_id, $sqlTokens AS ts FROM documents),
         |s AS (SELECT doc_id, ${sqlShingles(n)} AS sh FROM t),
         |h AS (SELECT doc_id, list_transform(sh, tk -> ${sqlHash("tk")}) AS hs FROM s),
         |hd AS (SELECT doc_id, list_distinct(hs) AS hsd FROM h),
         |sig AS (SELECT doc_id,
         |  $mhExprs
         |FROM h),
         |bands AS ($bandSelects),
         |cand AS (SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
         |  FROM bands x JOIN bands y ON x.band = y.band AND x.bkey = y.bkey AND x.doc_id < y.doc_id)""".stripMargin
    def minhashPairCtes(n: Int, threshold: Double): String =
      s"""${minhashCandCtes(n)},
         |pairs AS (SELECT id_a, id_b,
         |  CAST(len(list_intersect(ha.hsd, hb.hsd)) AS DOUBLE) / CAST(len(list_distinct(list_concat(ha.hsd, hb.hsd))) AS DOUBLE) AS jaccard
         |FROM cand JOIN hd ha ON ha.doc_id = id_a JOIN hd hb ON hb.doc_id = id_b
         |WHERE CAST(len(list_intersect(ha.hsd, hb.hsd)) AS DOUBLE) / CAST(len(list_distinct(list_concat(ha.hsd, hb.hsd))) AS DOUBLE) >= $threshold)""".stripMargin
    // exact PPJoin pair set at (n=2, t=1/2) — shared by the single-pass
    // and wave-partitioned gate queries, which return the identical set
    val sqlPrefixPairs = {
      val (tNum, tDen) = (1L, 2L)
      s"""WITH t AS (SELECT doc_id, $sqlTokens AS ts FROM documents),
         |s AS (SELECT doc_id, ${sqlShingles(2)} AS sh FROM t),
         |hd AS (SELECT doc_id, list_distinct(list_transform(sh, tk -> ${sqlHash("tk")})) AS hsd FROM s),
         |e AS (SELECT doc_id, unnest(hsd) AS h FROM hd),
         |f AS (SELECT h, COUNT(*) AS df FROM e GROUP BY h),
         |r AS (SELECT e.doc_id, e.h, row_number() OVER (PARTITION BY e.doc_id ORDER BY f.df, e.h) AS rn,
         |  count(*) OVER (PARTITION BY e.doc_id) AS sz FROM e JOIN f USING (h)),
         |p AS (SELECT doc_id, h FROM r WHERE rn <= sz - (($tNum * sz + ${tDen - 1}) // $tDen) + 1),
         |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM p a JOIN p b ON a.h = b.h AND a.doc_id < b.doc_id),
         |v AS (SELECT id_a, id_b, len(list_intersect(ha.hsd, hb.hsd)) AS i,
         |    len(list_distinct(list_concat(ha.hsd, hb.hsd))) AS u
         |  FROM cand JOIN hd ha ON ha.doc_id = id_a JOIN hd hb ON hb.doc_id = id_b)
         |SELECT id_a, id_b, CAST(i AS DOUBLE) / CAST(u AS DOUBLE) AS jaccard
         |FROM v WHERE i * $tDen >= $tNum * u ORDER BY id_a, id_b""".stripMargin
    }
    // recall/precision audit: exact side = brute-force rational-threshold
    // jaccard over the same distinct shingle hashes (hd), approx side =
    // the minhash pairs CTE
    val sqlPrAudit =
      s"""WITH ${minhashPairCtes(3, 0.3)},
         |exact AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM hd a JOIN hd b ON a.doc_id < b.doc_id
         |  WHERE CAST(len(list_intersect(a.hsd, b.hsd)) AS BIGINT) * 10 >=
         |        3 * CAST(len(list_distinct(list_concat(a.hsd, b.hsd))) AS BIGINT)),
         |j AS (SELECT e.id_a IS NOT NULL AS in_exact, l.id_a IS NOT NULL AS in_lsh
         |  FROM exact e FULL OUTER JOIN (SELECT id_a, id_b FROM pairs) l
         |    ON e.id_a = l.id_a AND e.id_b = l.id_b)
         |SELECT CAST(SUM(CASE WHEN in_exact THEN 1 ELSE 0 END) AS BIGINT) AS n_exact,
         |  CAST(SUM(CASE WHEN in_lsh THEN 1 ELSE 0 END) AS BIGINT) AS n_approx,
         |  CAST(SUM(CASE WHEN in_exact AND in_lsh THEN 1 ELSE 0 END) AS BIGINT) AS n_both,
         |  CAST(SUM(CASE WHEN in_exact AND in_lsh THEN 1 ELSE 0 END) AS DOUBLE)
         |    / CAST(SUM(CASE WHEN in_exact THEN 1 ELSE 0 END) AS DOUBLE) AS recall,
         |  CAST(SUM(CASE WHEN in_exact AND in_lsh THEN 1 ELSE 0 END) AS DOUBLE)
         |    / CAST(SUM(CASE WHEN in_lsh THEN 1 ELSE 0 END) AS DOUBLE) AS prec
         |FROM j""".stripMargin
    def sqlMinhashPairs(n: Int, threshold: Double): String =
      s"""WITH ${minhashPairCtes(n, threshold)}
         |SELECT id_a, id_b, jaccard FROM pairs
         |ORDER BY id_a, id_b""".stripMargin
    val simhashBandBits = Dedup.SimhashBits / 4 // maxDist=3 → 4 bands
    val simhashBandSelects = (0 until 4).map { b =>
      s"SELECT doc_id, simhash, $b AS band, (simhash >> ${b * simhashBandBits}) & ${(1L << simhashBandBits) - 1} AS bkey FROM sig"
    }.mkString("\n  UNION ALL ")
    val simhashTerms = (0 until Dedup.SimhashBits).map { i =>
      s"(CASE WHEN list_sum(list_transform(hs, x -> CASE WHEN (x >> $i) & 1 = 1 THEN 1 ELSE -1 END)) > 0 THEN CAST(${1L << i} AS BIGINT) ELSE 0 END)"
    }.mkString(" + ")
    val rollW = TextFunctions.RollWeights.mkString("[", ", ", "]")
    val stopSql = TextFunctions.LangStopwords.map { case (l, ws) =>
      s"len(list_filter(ts, x -> x IN (${ws.map(w => s"'$w'").mkString(",")}))) AS s_$l"
    }.mkString(",\n  ")
    val langs = TextFunctions.LangStopwords.map(_._1)
    val langCase = langs.map { l =>
      val others = langs.map(x => s"s_$x").mkString(", ")
      s"WHEN s_$l = greatest($others) AND s_$l > 0 THEN '$l'"
    }.mkString("CASE ", " ", " ELSE 'und' END")
    val enList = TextFunctions.LangStopwords.head._2.map(w => s"'$w'").mkString(",")
    // composite quality score over columns (text, ts) — mirrors
    // TextFunctions.qualityScore term by term (same eval order)
    val sqlQuality =
      s"""0.4 * (CAST(len(list_filter(ts, x -> x IN ($enList))) AS BIGINT) / CAST(CAST(len(ts) AS BIGINT) AS DOUBLE))
         |    + 0.3 * LEAST((CAST(length(regexp_replace(trim(text), '\\s+', '', 'g')) AS DOUBLE) / CAST(CAST(len(ts) AS BIGINT) AS DOUBLE)) / 10.0, 1.0)
         |    + 0.3 * (CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE) / CAST(length(text) AS DOUBLE))""".stripMargin

    Map(
      "text_stats" ->
        s"""WITH t AS (SELECT doc_id, text, $sqlTokens AS ts FROM documents)
           |SELECT doc_id,
           |  CAST(len(ts) AS BIGINT) AS n_tokens,
           |  CAST(len(regexp_extract_all(text, '${TextFunctions.BpeTokenPattern.replace("'", "''")}')) AS BIGINT) AS n_bpe_tokens,
           |  CAST(length(regexp_replace(trim(text), '\\s+', '', 'g')) AS DOUBLE) / CAST(CAST(len(ts) AS BIGINT) AS DOUBLE) AS mean_token_len,
           |  CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE) / CAST(length(text) AS DOUBLE) AS alpha_ratio,
           |  $sqlQuality AS quality
           |FROM t ORDER BY doc_id""".stripMargin,
      "arr_hof" ->
        """SELECT vec_id,
          |  CAST(len(list_filter(embedding, x -> x > 0)) AS BIGINT) AS n_pos,
          |  list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
          |    list_transform(embedding, x -> CAST(x AS DOUBLE))),
          |    (acc, x) -> acc + abs(x)) AS l1,
          |  list_max(list_transform(range(1, len(embedding) + 1),
          |    i -> CAST(embedding[i] AS DOUBLE) + CAST(embedding[len(embedding) - i + 1] AS DOUBLE))) AS max_symsum
          |FROM embeddings ORDER BY vec_id""".stripMargin,
      "red_kmv_merged" ->
        """WITH h AS (SELECT DISTINCT
          |    CAST(concat('0x', substr(md5(text),1,12)) AS BIGINT) AS h FROM documents),
          |r AS (SELECT h, row_number() OVER (ORDER BY h) AS rn, count(*) OVER () AS n FROM h),
          |e AS (SELECT CAST(CASE WHEN n < 64 THEN n
          |    ELSE (63 * 281474976710656) // h END AS BIGINT) AS est
          |  FROM r WHERE rn = LEAST(64, n))
          |SELECT est AS n_est_merged, est AS n_est_direct FROM e""".stripMargin,
      "corpus_mix" ->
        """WITH w(source, weight) AS (VALUES ('src0', 50), ('src1', 30), ('src2', 10), ('curated', 10)),
          |c AS (SELECT source, count(*) AS n_docs FROM documents GROUP BY source),
          |j AS (SELECT coalesce(c.source, w.source) AS source,
          |    CAST(coalesce(c.n_docs, 0) AS BIGINT) AS n_docs,
          |    CAST(coalesce(w.weight, 0) AS BIGINT) AS weight
          |  FROM c FULL OUTER JOIN w ON c.source = w.source)
          |SELECT source, n_docs, weight,
          |  (weight * 100) // 100 AS need,
          |  LEAST((weight * 100) // 100, n_docs) AS take,
          |  CASE WHEN n_docs > 0
          |    THEN CAST(LEAST((weight * 100) // 100, n_docs) AS DOUBLE) / CAST(n_docs AS DOUBLE)
          |    ELSE 0.0 END AS rate,
          |  (weight * 100) // 100 - LEAST((weight * 100) // 100, n_docs) AS deficit
          |FROM j ORDER BY source""".stripMargin,
      "corpus_diversity" ->
        """WITH c AS (SELECT lang, source, count(*) AS c FROM documents GROUP BY lang, source),
          |g AS (SELECT lang, CAST(SUM(c) AS BIGINT) AS n, count(*) AS n_categories,
          |    CAST(SUM(c * c) AS BIGINT) AS s2,
          |    CAST(SUM(c * (length(bin(c)) - 1)) AS BIGINT) AS cl
          |  FROM c GROUP BY lang)
          |SELECT lang, n, n_categories,
          |  CAST(n * n - s2 AS DOUBLE) / CAST(n * n AS DOUBLE) AS gini,
          |  n * (length(bin(n)) - 1) - cl AS entropy_qbits
          |FROM g ORDER BY lang""".stripMargin,
      "corpus_datasheet" ->
        s"""SELECT source, lang, COUNT(*) AS n_docs,
           |  CAST(SUM(len($sqlTokens)) AS BIGINT) AS n_tokens,
           |  CAST(SUM(length(text)) AS BIGINT) AS n_chars,
           |  COUNT(DISTINCT md5(text)) AS n_distinct_texts,
           |  1.0 - CAST(COUNT(DISTINCT md5(text)) AS DOUBLE) / COUNT(*) AS dup_rate,
           |  CAST(SUM(len($sqlTokens)) AS DOUBLE) / COUNT(*) AS avg_tokens
           |FROM documents
           |GROUP BY GROUPING SETS ((source), (source, lang), ())
           |ORDER BY source NULLS LAST, lang NULLS LAST""".stripMargin,

      "text_langid" ->
        s"""WITH t AS (SELECT doc_id, lang, $sqlTokens AS ts FROM documents),
           |s AS (SELECT doc_id, lang,
           |  $stopSql
           |FROM t)
           |SELECT doc_id, lang, $langCase AS lang_pred FROM s ORDER BY doc_id""".stripMargin,
      "text_quantiles" ->
        s"""WITH t AS (SELECT lang, CAST(len($sqlTokens) AS BIGINT) AS n_tokens FROM documents)
           |SELECT lang,
           |  ROUND(quantile_cont(n_tokens, 0.5), 6) AS p50,
           |  ROUND(quantile_cont(n_tokens, 0.95), 6) AS p95,
           |  COUNT(*) AS n
           |FROM t GROUP BY lang ORDER BY lang""".stripMargin,
      "text_topngrams" ->
        s"""WITH t AS (SELECT $sqlTokens AS ts FROM documents),
           |s AS (SELECT unnest(${sqlShingles(2)}) AS ngram FROM t)
           |SELECT ngram, COUNT(*) AS n_docs FROM s
           |GROUP BY ngram ORDER BY n_docs DESC, ngram LIMIT 20""".stripMargin,
      "text_heaps" ->
        s"""WITH t AS (SELECT doc_id, $sqlTokens AS ts FROM documents),
           |e AS (SELECT doc_id, unnest(ts) AS tok FROM t),
           |bounds AS (SELECT MIN(doc_id) AS lo, MAX(doc_id) AS hi FROM e),
           |eb AS (SELECT ((doc_id - lo) * 16) // (hi - lo + 1) AS b, tok FROM e, bounds),
           |tc AS (SELECT b, COUNT(*) AS nt FROM eb GROUP BY b),
           |fv AS (SELECT tok, MIN(b) AS fb FROM eb GROUP BY tok),
           |vc AS (SELECT fb AS b, COUNT(*) AS nv FROM fv GROUP BY fb),
           |cum AS (SELECT tc.b,
           |    CAST(SUM(nt) OVER (ORDER BY tc.b) AS BIGINT) AS tokens_cum,
           |    CAST(SUM(COALESCE(nv, 0)) OVER (ORDER BY tc.b) AS BIGINT) AS vocab_cum
           |  FROM tc LEFT JOIN vc ON tc.b = vc.b),
           |xy AS (SELECT length(bin(tokens_cum)) - 1 AS x,
           |    length(bin(vocab_cum)) - 1 AS y FROM cum),
           |ls AS (SELECT CAST(COUNT(*) AS BIGINT) AS k, CAST(SUM(x) AS BIGINT) AS sx,
           |    CAST(SUM(y) AS BIGINT) AS sy, CAST(SUM(x * y) AS BIGINT) AS sxy,
           |    CAST(SUM(x * x) AS BIGINT) AS sxx FROM xy)
           |SELECT CAST(b AS BIGINT) AS b, tokens_cum, vocab_cum,
           |  CAST(k * sxy - sx * sy AS BIGINT) AS slope_num,
           |  CAST(k * sxx - sx * sx AS BIGINT) AS slope_den,
           |  CAST(k * sxy - sx * sy AS DOUBLE) / (k * sxx - sx * sx) AS slope
           |FROM cum, ls ORDER BY b""".stripMargin,
      "text_zipf" ->
        s"""WITH t AS (SELECT $sqlTokens AS ts FROM documents),
           |c AS (SELECT tok, COUNT(*) AS n FROM (SELECT unnest(ts) AS tok FROM t)
           |  GROUP BY 1 ORDER BY n DESC, tok LIMIT 256),
           |r AS (SELECT length(bin(row_number() OVER (ORDER BY n DESC, tok))) - 1 AS x,
           |    length(bin(n)) - 1 AS y FROM c),
           |a AS (SELECT CAST(COUNT(*) AS BIGINT) AS k, CAST(SUM(x) AS BIGINT) AS sx,
           |    CAST(SUM(y) AS BIGINT) AS sy, CAST(SUM(x * y) AS BIGINT) AS sxy,
           |    CAST(SUM(x * x) AS BIGINT) AS sxx FROM r)
           |SELECT k, CAST(k * sxy - sx * sy AS BIGINT) AS slope_num,
           |  CAST(k * sxx - sx * sx AS BIGINT) AS slope_den,
           |  CAST(k * sxy - sx * sy AS DOUBLE) / (k * sxx - sx * sx) AS slope
           |FROM a""".stripMargin,
      "text_domains" ->
        s"""WITH n AS (SELECT doc_id, $sqlNoisyUrl AS t2 FROM documents),
           |d AS (SELECT unnest($sqlDomains) AS domain FROM n)
           |SELECT domain, COUNT(*) AS n_docs FROM d
           |GROUP BY domain ORDER BY domain""".stripMargin,
      "text_blocklist" ->
        s"""WITH n AS (SELECT doc_id, $sqlNoisyUrl AS t2 FROM documents)
           |SELECT doc_id FROM n
           |WHERE len(list_intersect($sqlDomains,
           |  [${BlockedDomains.map(d => s"'$d'").mkString(", ")}])) = 0
           |ORDER BY doc_id""".stripMargin,
      "text_blocklist_join" ->
        s"""WITH n AS (SELECT doc_id, $sqlNoisyUrl AS t2 FROM documents),
           |bl AS (SELECT unnest([${BlockedDomains.map(d => s"'$d'").mkString(", ")}]) AS domain),
           |d AS (SELECT doc_id, unnest($sqlDomains) AS domain FROM n)
           |SELECT doc_id FROM n
           |WHERE doc_id NOT IN (SELECT d.doc_id FROM d JOIN bl USING (domain))
           |ORDER BY doc_id""".stripMargin,
      "ev_gapfill" ->
        """WITH e AS (SELECT user_id,
          |  CAST(FLOOR(CAST(CAST(FLOOR(epoch(ts)) AS BIGINT) AS DOUBLE) / 300) * 300 AS BIGINT) AS bucket
          |FROM events),
          |c AS (SELECT user_id, bucket, COUNT(*) AS n FROM e GROUP BY user_id, bucket),
          |r AS (SELECT user_id, MIN(bucket) AS b0, MAX(bucket) AS b1 FROM e GROUP BY user_id),
          |sp AS (SELECT user_id, unnest(range(b0, b1 + 300, 300)) AS bucket FROM r)
          |SELECT sp.user_id, sp.bucket, COALESCE(c.n, 0) AS n
          |FROM sp LEFT JOIN c ON sp.user_id = c.user_id AND sp.bucket = c.bucket
          |ORDER BY sp.user_id, sp.bucket""".stripMargin,
      // ordered funnel: step-i time = earliest step-i event strictly
      // after the step-(i-1) time, chained windows (mirrors Behavior.funnel)
      "ev_funnel" ->
        """WITH w1 AS (SELECT user_id, ts, event_type,
          |  min(CASE WHEN event_type = 'view' THEN ts END) OVER (PARTITION BY user_id) AS t0 FROM events),
          |w2 AS (SELECT *, min(CASE WHEN event_type = 'click' AND ts > t0 THEN ts END) OVER (PARTITION BY user_id) AS t1 FROM w1),
          |w3 AS (SELECT *, min(CASE WHEN event_type = 'purchase' AND ts > t1 THEN ts END) OVER (PARTITION BY user_id) AS t2 FROM w2)
          |SELECT count(DISTINCT CASE WHEN t0 IS NOT NULL THEN user_id END) AS step_1,
          |  count(DISTINCT CASE WHEN t1 IS NOT NULL THEN user_id END) AS step_2,
          |  count(DISTINCT CASE WHEN t2 IS NOT NULL THEN user_id END) AS step_3
          |FROM w3""".stripMargin,
      "ev_stationary" -> sqlStationary,
      // relabeling-equivariance witness: the ENGINE ran the iteration on
      // reversed state labels and mapped back; the oracle is the plain
      // original-label unrolling — identical SQL by construction
      "ev_stationary_relabel" -> sqlStationary,
      "ev_funnel_window" ->
        """WITH w1 AS (SELECT user_id, ts, event_type,
          |  min(CASE WHEN event_type = 'view' THEN ts END) OVER (PARTITION BY user_id) AS t0 FROM events),
          |w2 AS (SELECT *, min(CASE WHEN event_type = 'click' AND ts > t0
          |  AND epoch_us(ts) <= epoch_us(t0) + CAST(86400 AS BIGINT) * 1000000 THEN ts END)
          |  OVER (PARTITION BY user_id) AS t1 FROM w1),
          |w3 AS (SELECT *, min(CASE WHEN event_type = 'purchase' AND ts > t1
          |  AND epoch_us(ts) <= epoch_us(t0) + CAST(86400 AS BIGINT) * 1000000 THEN ts END)
          |  OVER (PARTITION BY user_id) AS t2 FROM w2)
          |SELECT count(DISTINCT CASE WHEN t0 IS NOT NULL THEN user_id END) AS step_1,
          |  count(DISTINCT CASE WHEN t1 IS NOT NULL THEN user_id END) AS step_2,
          |  count(DISTINCT CASE WHEN t2 IS NOT NULL THEN user_id END) AS step_3
          |FROM w3""".stripMargin,
      "ev_retention" ->
        """WITH e AS (SELECT user_id, CAST(date_trunc('week', ts) AS TIMESTAMP) AS active_week FROM events),
          |c AS (SELECT *, min(active_week) OVER (PARTITION BY user_id) AS cohort_week FROM e)
          |SELECT cohort_week,
          |  CAST(date_diff('day', cohort_week, active_week) / 7 AS BIGINT) AS week_offset,
          |  count(DISTINCT user_id) AS users
          |FROM c GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
      "ev_anomaly" ->
        """WITH e AS (SELECT user_id, event_id, ts, value,
          |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v FROM events),
          |w AS (SELECT user_id, event_id, ts, value, v,
          |    count(v) OVER win AS n, sum(v) OVER win AS s1, sum(v * v) OVER win AS s2
          |  FROM e WINDOW win AS (PARTITION BY user_id ORDER BY ts, event_id
          |    ROWS BETWEEN 5 PRECEDING AND 1 PRECEDING))
          |SELECT user_id, event_id, ts, value, n AS n_prev,
          |  (n >= 3 AND (n * v - s1) * (n * v - s1) > 9 * (n * s2 - s1 * s1)) AS is_anomaly
          |FROM w ORDER BY user_id, event_id""".stripMargin,
      // ACF replay: the same n²-cross-multiplied deviations, one
      // window pass for all three leads, HUGEINT product sums, one
      // division per (user, lag)
      "ev_acf" ->
        """WITH e AS (SELECT user_id, event_id, ts,
          |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v FROM events
          |  WHERE value IS NOT NULL),
          |st AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n, SUM(v) AS s FROM e GROUP BY user_id),
          |d AS (SELECT e.user_id, st.n, e.ts, e.event_id, st.n * e.v - st.s AS d0
          |  FROM e JOIN st USING (user_id)),
          |l AS (SELECT user_id, n, d0,
          |    lead(d0, 1) OVER w AS d1, lead(d0, 2) OVER w AS d2, lead(d0, 3) OVER w AS d3
          |  FROM d WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
          |agg AS (SELECT user_id, n, SUM(CAST(d0 AS HUGEINT) * d0) AS den,
          |    SUM(CAST(d0 AS HUGEINT) * d1) AS n1,
          |    SUM(CAST(d0 AS HUGEINT) * d2) AS n2,
          |    SUM(CAST(d0 AS HUGEINT) * d3) AS n3
          |  FROM l GROUP BY user_id, n)
          |SELECT user_id, lag, n, acf FROM (
          |  SELECT user_id, CAST(1 AS BIGINT) AS lag, n,
          |    CASE WHEN den <> 0 AND n1 IS NOT NULL THEN CAST(n1 AS DOUBLE) / CAST(den AS DOUBLE) END AS acf FROM agg
          |  UNION ALL SELECT user_id, CAST(2 AS BIGINT), n,
          |    CASE WHEN den <> 0 AND n2 IS NOT NULL THEN CAST(n2 AS DOUBLE) / CAST(den AS DOUBLE) END FROM agg
          |  UNION ALL SELECT user_id, CAST(3 AS BIGINT), n,
          |    CASE WHEN den <> 0 AND n3 IS NOT NULL THEN CAST(n3 AS DOUBLE) / CAST(den AS DOUBLE) END FROM agg)
          |ORDER BY user_id, lag""".stripMargin,
      // Mann–Kendall replay: newest-16 window, pairwise CASE signs,
      // tie-corrected 18·Var, identical S/√(Var/18) double tree
      "ev_trend" ->
        """WITH e AS (SELECT user_id, ts, event_id,
          |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v FROM events
          |  WHERE value IS NOT NULL),
          |r AS (SELECT user_id, v,
          |    row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn FROM e),
          |rec AS (SELECT user_id, 17 - rn AS p, v FROM r WHERE rn <= 16),
          |sgn AS (SELECT x.user_id,
          |    CAST(SUM(CASE WHEN y.v > x.v THEN 1 WHEN y.v < x.v THEN -1 ELSE 0 END) AS BIGINT) AS s_stat
          |  FROM rec x JOIN rec y ON x.user_id = y.user_id AND x.p < y.p GROUP BY x.user_id),
          |np AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n FROM rec GROUP BY user_id),
          |ti AS (SELECT user_id, CAST(SUM(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tie
          |  FROM (SELECT user_id, v, COUNT(*) AS t FROM rec GROUP BY user_id, v) GROUP BY user_id)
          |SELECT np.user_id, np.n, sgn.s_stat,
          |  CAST(np.n * (np.n - 1) * (2 * np.n + 5) - ti.tie AS BIGINT) AS var18,
          |  CASE WHEN np.n * (np.n - 1) * (2 * np.n + 5) - ti.tie > 0
          |    THEN CAST(sgn.s_stat AS DOUBLE)
          |       / SQRT(CAST(np.n * (np.n - 1) * (2 * np.n + 5) - ti.tie AS DOUBLE) / 18.0) END AS trend
          |FROM np JOIN ti USING (user_id) JOIN sgn USING (user_id)
          |WHERE np.n >= 2 ORDER BY np.user_id""".stripMargin,
      // same left fold, same rational step (1*x + 4*acc)/5 — identical
      // IEEE op sequence, so the doubles hash-match
      "ev_ewma" ->
        """SELECT user_id, count(*) AS n_events,
          |  list_reduce(list(CAST(value AS DOUBLE) ORDER BY ts, value),
          |    (acc, x) -> (1 * x + 4 * acc) / 5) AS ewma
          |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
      // the streaming CUSUM's chronological replay equals the batch
      // window formulation bit-for-bit — same formula as ev_cusum,
      // projected to the stream's columns and total order
      "stream_cusum" ->
        """WITH s AS (SELECT event_id, user_id, ts,
          |    SUM(CAST(FLOOR(CAST(value AS DOUBLE) * 100 + 0.5) AS BIGINT) - 5000)
          |      OVER w AS p
          |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
          |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
          |m AS (SELECT event_id, user_id, p,
          |    MIN(LEAST(p, 0)) OVER (PARTITION BY user_id ORDER BY ts, event_id
          |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pmin
          |  FROM s)
          |SELECT user_id, event_id, CAST(p - pmin AS BIGINT) AS cusum_c,
          |  p - pmin > 20000 AS alarm
          |FROM m ORDER BY user_id, event_id""".stripMargin,
      "stream_anomaly" ->
        """WITH e AS (SELECT user_id, event_id, ts,
          |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v FROM events),
          |w AS (SELECT user_id, event_id, v,
          |    count(v) OVER win AS n, sum(v) OVER win AS s1, sum(v * v) OVER win AS s2
          |  FROM e WINDOW win AS (PARTITION BY user_id ORDER BY ts, event_id
          |    ROWS BETWEEN 5 PRECEDING AND 1 PRECEDING))
          |SELECT user_id, event_id, n AS n_prev,
          |  (n >= 3 AND (n * v - s1) * (n * v - s1) > 9 * (n * s2 - s1 * s1)) AS is_anomaly
          |FROM w ORDER BY user_id, event_id""".stripMargin,
      // the streaming replay's final per-user emit must equal the same
      // batch fold — one oracle serves both faces
      "stream_holt" ->
        """WITH RECURSIVE l AS (
          |  SELECT user_id, list(CAST(value AS DOUBLE) ORDER BY ts, value) AS vals,
          |    COUNT(*) AS n FROM events GROUP BY user_id),
          |rec AS (
          |  SELECT user_id, n, vals, 1 AS i, vals[1] AS l,
          |    CASE WHEN n >= 2 THEN vals[2] - vals[1] ELSE 0.0 END AS b
          |  FROM l
          |  UNION ALL
          |  SELECT user_id, n, vals, i + 1,
          |    (2 * vals[i + 1] + 8 * (l + b)) / 10,
          |    (3 * ((2 * vals[i + 1] + 8 * (l + b)) / 10 - l) + 7 * b) / 10
          |  FROM rec WHERE i < n)
          |SELECT user_id, n AS n_events, l AS level, b AS trend
          |FROM rec WHERE i = n ORDER BY user_id""".stripMargin,
      "stream_ewma" ->
        """SELECT user_id, count(*) AS n_events,
          |  list_reduce(list(CAST(value AS DOUBLE) ORDER BY ts, value),
          |    (acc, x) -> (1 * x + 4 * acc) / 5) AS ewma
          |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
      "ev_attribution" -> {
        val touch = "CASE WHEN event_type IN ('view','click','signup') THEN event_type END"
        val frame = "OVER (PARTITION BY user_id ORDER BY ts, event_id " +
          "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)"
        s"""WITH o AS (SELECT event_id, user_id, ts, event_type,
           |  first_value($touch IGNORE NULLS) $frame AS first_touch,
           |  last_value($touch IGNORE NULLS) $frame AS last_touch
           |FROM events)
           |SELECT event_id, user_id, ts, first_touch, last_touch
           |FROM o WHERE event_type = 'purchase' ORDER BY event_id""".stripMargin
      },
      // the streaming face must equal the batch window formulation
      // (ts lives on the conversion event itself, so it is omitted)
      "stream_attribution" -> {
        val touch = "CASE WHEN event_type IN ('view','click','signup') THEN event_type END"
        val frame = "OVER (PARTITION BY user_id ORDER BY ts, event_id " +
          "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)"
        s"""WITH o AS (SELECT event_id, user_id, event_type,
           |  first_value($touch IGNORE NULLS) $frame AS first_touch,
           |  last_value($touch IGNORE NULLS) $frame AS last_touch
           |FROM events)
           |SELECT event_id, user_id, first_touch, last_touch
           |FROM o WHERE event_type = 'purchase' ORDER BY event_id""".stripMargin
      },
      "ev_transitions" ->
        """WITH o AS (SELECT user_id, event_type,
          |  lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type FROM events)
          |SELECT prev_type, event_type AS next_type, count(*) AS transitions
          |FROM o WHERE prev_type IS NOT NULL GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
      // linear interpolation over the id%7 deterministic mask; time math
      // in exact int64 micros, only the final fraction is IEEE double
      "ev_interpolate" ->
        """WITH m AS (SELECT user_id, event_id, ts,
          |  CASE WHEN event_id % 7 <> 0 THEN value END AS v FROM events),
          |f AS (SELECT *,
          |  last_value(v IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY ts, event_id
          |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS p_v,
          |  last_value(CASE WHEN v IS NOT NULL THEN epoch_us(ts) END IGNORE NULLS)
          |    OVER (PARTITION BY user_id ORDER BY ts, event_id
          |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS p_t,
          |  first_value(v IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY ts, event_id
          |    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS n_v,
          |  first_value(CASE WHEN v IS NOT NULL THEN epoch_us(ts) END IGNORE NULLS)
          |    OVER (PARTITION BY user_id ORDER BY ts, event_id
          |    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS n_t
          |FROM m)
          |SELECT event_id, user_id,
          |  CASE WHEN p_v IS NOT NULL AND n_v IS NOT NULL
          |    THEN p_v + (n_v - p_v) * (CAST(epoch_us(ts) - p_t AS DOUBLE) / CAST(n_t - p_t AS DOUBLE))
          |    ELSE COALESCE(p_v, n_v) END AS value
          |FROM f WHERE event_id % 7 = 0 ORDER BY event_id""".stripMargin,
      "feat_onehot" ->
        """SELECT c_custkey,
          |  CASE WHEN c_mktsegment = 'AUTOMOBILE' THEN 1 ELSE 0 END AS is_automobile,
          |  CASE WHEN c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END AS is_building,
          |  CASE WHEN c_mktsegment = 'FURNITURE' THEN 1 ELSE 0 END AS is_furniture,
          |  CASE WHEN c_mktsegment = 'HOUSEHOLD' THEN 1 ELSE 0 END AS is_household,
          |  CASE WHEN c_mktsegment = 'MACHINERY' THEN 1 ELSE 0 END AS is_machinery
          |FROM customer ORDER BY c_custkey""".stripMargin,
      // hashing trick: same 28-bit md5-prefix hash family as the bloom probes
      "feat_hashing" ->
        s"""WITH tok AS (SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS token FROM documents),
           |h AS (SELECT doc_id, ${sqlHash("token")} % 64 AS dim FROM tok WHERE token <> '')
           |SELECT doc_id, dim, count(*) AS weight FROM h GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
      // exact decimal moments, IEEE-only final formula (same pattern as red_var_std)
      "feat_discretize" ->
        """SELECT doc_id, lang, n_chars,
          |  CAST(least(ceil(cume_dist() OVER (PARTITION BY lang ORDER BY n_chars) * 4) - 1, 3) AS BIGINT) AS bin
          |FROM documents ORDER BY doc_id""".stripMargin,
      "feat_scale" ->
        """WITH m AS (SELECT c_mktsegment,
          |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sx,
          |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2)) * CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sx2,
          |  CAST(COUNT(c_acctbal) AS DOUBLE) AS n
          |FROM customer GROUP BY 1)
          |SELECT c_custkey, c.c_mktsegment,
          |  CASE WHEN (sx2 - sx * sx / n) / n > 0
          |    THEN (c_acctbal - sx / n) / SQRT((sx2 - sx * sx / n) / n) END AS zscore
          |FROM customer c JOIN m ON c.c_mktsegment = m.c_mktsegment
          |ORDER BY c_custkey""".stripMargin,
      "feat_mutual_info" ->
        """WITH cxy AS (SELECT lang, source, count(*) AS c FROM documents GROUP BY 1, 2),
          |hx AS (SELECT CAST(SUM(c) AS BIGINT) AS n,
          |    CAST(SUM(c) * (length(bin(SUM(c))) - 1)
          |      - SUM(c * (length(bin(c)) - 1)) AS BIGINT) AS h
          |  FROM (SELECT lang, CAST(SUM(c) AS BIGINT) AS c FROM cxy GROUP BY lang)),
          |hy AS (SELECT CAST(SUM(c) * (length(bin(SUM(c))) - 1)
          |      - SUM(c * (length(bin(c)) - 1)) AS BIGINT) AS h
          |  FROM (SELECT source, CAST(SUM(c) AS BIGINT) AS c FROM cxy GROUP BY source)),
          |hxy AS (SELECT CAST(SUM(c) * (length(bin(SUM(c))) - 1)
          |      - SUM(c * (length(bin(c)) - 1)) AS BIGINT) AS h FROM cxy)
          |SELECT hx.n, hx.h AS hx_qbits, hy.h AS hy_qbits, hxy.h AS hxy_qbits,
          |  hx.h + hy.h - hxy.h AS mi_qbits
          |FROM hx, hy, hxy""".stripMargin,
      // χ²/Cramér replay: exact HUGEINT cell products, the identical
      // ((d·d)/e)·2^20 double tree per cell, order-free integer sum,
      // one hardware sqrt
      "feat_cramers_v" ->
        """WITH obs AS (SELECT CAST(lang AS VARCHAR) AS x, CAST(source AS VARCHAR) AS y,
          |    COUNT(*) AS o FROM documents GROUP BY 1, 2),
          |rk AS (SELECT x, SUM(o) AS r FROM obs GROUP BY x),
          |ck AS (SELECT y, SUM(o) AS c FROM obs GROUP BY y),
          |tot AS (SELECT CAST(SUM(o) AS BIGINT) AS n FROM obs),
          |xc AS (SELECT CAST(COUNT(*) AS BIGINT) AS x_cats FROM rk),
          |yc AS (SELECT CAST(COUNT(*) AS BIGINT) AS y_cats FROM ck),
          |cells AS (SELECT rk.r, ck.c, COALESCE(cl.o, 0) AS o
          |  FROM rk CROSS JOIN ck LEFT JOIN obs cl
          |  ON rk.x IS NOT DISTINCT FROM cl.x AND ck.y IS NOT DISTINCT FROM cl.y),
          |pc AS (SELECT CAST(COALESCE(SUM(CAST(FLOOR(
          |      CAST(CAST(o AS HUGEINT) * n - CAST(r AS HUGEINT) * c AS DOUBLE)
          |    * CAST(CAST(o AS HUGEINT) * n - CAST(r AS HUGEINT) * c AS DOUBLE)
          |    / CAST(CAST(r AS HUGEINT) * c * n AS DOUBLE) * 1048576.0) AS BIGINT)), 0) AS BIGINT) AS chi2_q
          |  FROM cells CROSS JOIN tot)
          |SELECT n, x_cats, y_cats, chi2_q,
          |  CAST(chi2_q AS DOUBLE) / 1048576.0 AS chi2,
          |  CASE WHEN LEAST(x_cats, y_cats) > 1
          |    THEN SQRT((CAST(chi2_q AS DOUBLE) / 1048576.0)
          |      / (CAST(n AS DOUBLE) * CAST(LEAST(x_cats, y_cats) - 1 AS DOUBLE))) END AS cramers_v
          |FROM tot CROSS JOIN xc CROSS JOIN yc CROSS JOIN pc""".stripMargin,
      "red_histogram" ->
        """WITH mm AS (SELECT min(l_extendedprice) AS h_min, max(l_extendedprice) AS h_max FROM lineitem),
          |b AS (SELECT CASE WHEN h_max = h_min THEN 0
          |    ELSE CAST(least(floor((l_extendedprice - h_min) / ((h_max - h_min) / 20.0)), 19) AS BIGINT) END AS bin,
          |  h_min, h_max FROM lineitem, mm)
          |SELECT bin,
          |  h_min + CAST(bin AS DOUBLE) * (h_max - h_min) / 20.0 AS lo,
          |  h_min + CAST(bin + 1 AS DOUBLE) * (h_max - h_min) / 20.0 AS hi,
          |  count(*) AS n
          |FROM b GROUP BY bin, h_min, h_max ORDER BY bin""".stripMargin,
      // type-1 weighted quantile: rational-q integer threshold over
      // decimal-exact cumulative weights (mirrors Quantile.weightedQuantile)
      "red_weighted_quantile" ->
        """WITH c AS (SELECT l_returnflag AS g, l_quantity AS v,
          |    SUM(CAST(l_extendedprice AS DECIMAL(28,6))) AS w
          |  FROM lineitem WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
          |  GROUP BY 1, 2),
          |r AS (SELECT g, v,
          |    SUM(w) OVER (PARTITION BY g ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
          |    SUM(w) OVER (PARTITION BY g) AS tot FROM c),
          |med AS (SELECT g, MIN(v) AS w_median FROM r WHERE tot > 0 AND cum * 2 >= tot GROUP BY g),
          |p90 AS (SELECT g, MIN(v) AS w_p90 FROM r WHERE tot > 0 AND cum * 10 >= tot * 9 GROUP BY g)
          |SELECT med.g AS l_returnflag, w_median, w_p90
          |FROM med JOIN p90 ON med.g = p90.g ORDER BY 1""".stripMargin,
      // KS replay: same centi grid, running ECDFs over the distinct-
      // value union, HUGEINT cross products, one division
      "profile_ks2" ->
        """WITH av AS (SELECT CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
          |  FROM events WHERE event_type = 'purchase' AND value IS NOT NULL),
          |bv AS (SELECT CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
          |  FROM events WHERE event_type = 'view' AND value IS NOT NULL),
          |pts AS (SELECT v, SUM(ka) AS ka, SUM(kb) AS kb FROM (
          |    SELECT v, COUNT(*) AS ka, 0 AS kb FROM av GROUP BY v
          |    UNION ALL SELECT v, 0, COUNT(*) FROM bv GROUP BY v) GROUP BY v),
          |c AS (SELECT v, ka, kb,
          |    SUM(ka) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cuma,
          |    SUM(kb) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumb,
          |    SUM(ka) OVER () AS na, SUM(kb) OVER () AS nb FROM pts)
          |SELECT CAST(MAX(na) AS BIGINT) AS n_a, CAST(MAX(nb) AS BIGINT) AS n_b,
          |  CASE WHEN MAX(na) > 0 AND MAX(nb) > 0
          |    THEN CAST(MAX(ABS(CAST(cuma AS HUGEINT) * nb - CAST(cumb AS HUGEINT) * na)) AS DOUBLE)
          |       / (CAST(MAX(na) AS DOUBLE) * CAST(MAX(nb) AS DOUBLE)) END AS ks_d
          |FROM c""".stripMargin,
      // Gini replay: same centi grid, rank-weighted HUGEINT sums over
      // the per-group distinct-value walk, one division
      "red_gini" ->
        """WITH c AS (SELECT event_type, CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v,
          |    COUNT(*) AS c FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
          |w AS (SELECT event_type, v, c,
          |    COALESCE(SUM(c) OVER (PARTITION BY event_type ORDER BY v
          |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS s,
          |    SUM(c) OVER (PARTITION BY event_type) AS n FROM c),
          |a AS (SELECT event_type, CAST(MAX(n) AS BIGINT) AS n,
          |    SUM(CAST(v AS HUGEINT) * (2 * CAST(c AS HUGEINT) * s + CAST(c AS HUGEINT) * c + c)) AS s2,
          |    SUM(CAST(v AS HUGEINT) * c) AS t FROM w GROUP BY event_type)
          |SELECT event_type, n,
          |  CASE WHEN t > 0 THEN CAST(s2 - (CAST(n AS HUGEINT) + 1) * t AS DOUBLE)
          |    / CAST(CAST(n AS HUGEINT) * t AS DOUBLE) END AS gini
          |FROM a ORDER BY event_type""".stripMargin,
      // trimmed-mean replay: same centi grid, same integer rank clamps
      // per distinct value, one division per group
      "red_trimmed_mean" ->
        """WITH c AS (SELECT l_returnflag, CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT) AS v,
          |    COUNT(*) AS c FROM lineitem GROUP BY 1, 2),
          |w AS (SELECT l_returnflag, v, c,
          |    COALESCE(SUM(c) OVER (PARTITION BY l_returnflag ORDER BY v
          |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS s,
          |    SUM(c) OVER (PARTITION BY l_returnflag) AS n FROM c),
          |k AS (SELECT l_returnflag, v, n,
          |    GREATEST(LEAST(s + c, n - (n * 1 // 10)) - GREATEST(s, n * 1 // 10), 0) AS kept FROM w)
          |SELECT l_returnflag, CAST(MAX(n) AS BIGINT) AS n, CAST(SUM(kept) AS BIGINT) AS kept,
          |  CAST(SUM(CAST(v AS HUGEINT) * kept) AS DOUBLE) / (CAST(SUM(kept) AS DOUBLE) * 100.0) AS trimmed_mean
          |FROM k GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
      // interval union (gaps-and-islands): running max end over strictly
      // preceding intervals opens islands; exact int64 µs arithmetic
      "ev_cusum" ->
        """WITH s AS (SELECT event_id, user_id, ts,
          |    SUM(CAST(FLOOR(CAST(value AS DOUBLE) * 100 + 0.5) AS BIGINT) - 5000)
          |      OVER w AS p
          |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
          |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
          |m AS (SELECT event_id, user_id, p,
          |    MIN(LEAST(p, 0)) OVER (PARTITION BY user_id ORDER BY ts, event_id
          |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pmin
          |  FROM s)
          |SELECT event_id, user_id, CAST(p - pmin AS BIGINT) AS cusum_c,
          |  p - pmin > 20000 AS alarm
          |FROM m ORDER BY event_id""".stripMargin,
      "ev_ohlc" ->
        """WITH h AS (SELECT date_trunc('hour', ts) AS bucket, ts, event_id, value FROM events),
          |o AS (SELECT bucket, value,
          |    row_number() OVER (PARTITION BY bucket ORDER BY ts, event_id) AS rn_a,
          |    row_number() OVER (PARTITION BY bucket ORDER BY ts DESC, event_id DESC) AS rn_d
          |  FROM h)
          |SELECT bucket,
          |  MIN(CASE WHEN rn_a = 1 THEN value END) AS open,
          |  MAX(value) AS high, MIN(value) AS low,
          |  MIN(CASE WHEN rn_d = 1 THEN value END) AS close,
          |  COUNT(*) AS volume,
          |  CAST(SUM(CAST(FLOOR(CAST(value AS DOUBLE) * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0 AS vsum
          |FROM o GROUP BY bucket ORDER BY bucket""".stripMargin,
      // the streaming bars' final complete-mode emit must equal the
      // batch resample — one oracle serves both faces
      "stream_ohlc" ->
        """WITH h AS (SELECT date_trunc('hour', ts) AS bucket, ts, event_id, value FROM events),
          |o AS (SELECT bucket, value,
          |    row_number() OVER (PARTITION BY bucket ORDER BY ts, event_id) AS rn_a,
          |    row_number() OVER (PARTITION BY bucket ORDER BY ts DESC, event_id DESC) AS rn_d
          |  FROM h)
          |SELECT bucket,
          |  MIN(CASE WHEN rn_a = 1 THEN value END) AS open,
          |  MAX(value) AS high, MIN(value) AS low,
          |  MIN(CASE WHEN rn_d = 1 THEN value END) AS close,
          |  COUNT(*) AS volume,
          |  CAST(SUM(CAST(FLOOR(CAST(value AS DOUBLE) * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0 AS vsum
          |FROM o GROUP BY bucket ORDER BY bucket""".stripMargin,
      "eval_auc" ->
        """WITH q AS (SELECT CAST(FLOOR(CAST(value AS DOUBLE) * 100 + 0.5) AS BIGINT) AS qs,
          |    (event_type = 'purchase') AS y FROM events),
          |g AS (SELECT qs, COUNT(*) AS cnt,
          |    SUM(CASE WHEN y THEN 1 ELSE 0 END) AS np FROM q GROUP BY qs),
          |r AS (SELECT qs, cnt, np,
          |    COALESCE(SUM(cnt) OVER (ORDER BY qs
          |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS r FROM g)
          |SELECT CAST(SUM(np) AS BIGINT) AS n_pos,
          |  CAST(SUM(cnt - np) AS BIGINT) AS n_neg,
          |  CASE WHEN SUM(np) > 0 AND SUM(cnt - np) > 0 THEN
          |    CAST(SUM(CAST(np AS HUGEINT) * (2 * r + cnt + 1))
          |        - CAST(SUM(np) AS HUGEINT) * (SUM(np) + 1) AS DOUBLE)
          |      / CAST(2 * CAST(SUM(np) AS HUGEINT) * SUM(cnt - np) AS DOUBLE)
          |  END AS auc
          |FROM r""".stripMargin,
      // replica-weight-invariance witness: constant planted score →
      // auc and both band ends are the LITERAL 1/2 (closed form, see
      // the query site); the only data work is two label counts — no
      // midranks, no Poisson table, no window, no bootstrap replay
      "eval_auc_ci_witness" ->
        """SELECT
          |  CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
          |  CAST(SUM(CASE WHEN event_type <> 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_neg,
          |  CAST(0.5 AS DOUBLE) AS auc,
          |  CAST(0.5 AS DOUBLE) AS ci_lo,
          |  CAST(0.5 AS DOUBLE) AS ci_hi
          |FROM events""".stripMargin,
      // weighted-midrank bootstrap replay: the eval_auc chain per
      // replica with Poisson threshold-table multiplicities (the
      // eval_brier_ci recipe); 32 replicas → band = replica MIN/MAX
      "eval_auc_ci" ->
        s"""WITH q0 AS (SELECT CAST(event_id AS VARCHAR) AS id,
          |    CAST(FLOOR(CAST(value AS DOUBLE) * 100 + 0.5) AS BIGINT) AS qs,
          |    (event_type = 'purchase') AS y FROM events),
          |rq AS (SELECT id, qs, y, unnest(range(32)) AS rb FROM q0),
          |uw AS (SELECT qs, y, rb,
          |    (CASE WHEN u >= 98751885 THEN 1 ELSE 0 END) + (CASE WHEN u >= 197503771 THEN 1 ELSE 0 END)
          |  + (CASE WHEN u >= 246879713 THEN 1 ELSE 0 END) + (CASE WHEN u >= 263338361 THEN 1 ELSE 0 END)
          |  + (CASE WHEN u >= 267453023 THEN 1 ELSE 0 END) + (CASE WHEN u >= 268275955 THEN 1 ELSE 0 END)
          |  + (CASE WHEN u >= 268413111 THEN 1 ELSE 0 END) AS w
          |  FROM (SELECT qs, y, rb, ${sqlHash("id || '_' || CAST(rb AS VARCHAR)")} % 268435456 AS u FROM rq)),
          |g2 AS (SELECT rb, qs, CAST(SUM(w) AS BIGINT) AS cnt,
          |    CAST(SUM(CASE WHEN y THEN w ELSE 0 END) AS BIGINT) AS np FROM uw GROUP BY rb, qs),
          |r2 AS (SELECT rb, qs, cnt, np, COALESCE(SUM(cnt) OVER (PARTITION BY rb ORDER BY qs
          |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS r FROM g2),
          |rep AS (SELECT rb, SUM(np) AS p, SUM(cnt - np) AS nn,
          |    SUM(CAST(np AS HUGEINT) * (2 * r + cnt + 1)) AS s2 FROM r2 GROUP BY rb
          |  HAVING SUM(np) > 0 AND SUM(cnt - np) > 0),
          |m AS (SELECT CAST(s2 - CAST(p AS HUGEINT) * (p + 1) AS DOUBLE)
          |    / CAST(2 * CAST(p AS HUGEINT) * nn AS DOUBLE) AS mean FROM rep),
          |g AS (SELECT qs, COUNT(*) AS cnt,
          |    SUM(CASE WHEN y THEN 1 ELSE 0 END) AS np FROM q0 GROUP BY qs),
          |r AS (SELECT qs, cnt, np,
          |    COALESCE(SUM(cnt) OVER (ORDER BY qs
          |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS r FROM g)
          |SELECT CAST(SUM(np) AS BIGINT) AS n_pos,
          |  CAST(SUM(cnt - np) AS BIGINT) AS n_neg,
          |  CASE WHEN SUM(np) > 0 AND SUM(cnt - np) > 0 THEN
          |    CAST(SUM(CAST(np AS HUGEINT) * (2 * r + cnt + 1))
          |        - CAST(SUM(np) AS HUGEINT) * (SUM(np) + 1) AS DOUBLE)
          |      / CAST(2 * CAST(SUM(np) AS HUGEINT) * SUM(cnt - np) AS DOUBLE)
          |  END AS auc,
          |  (SELECT MIN(mean) FROM m) AS ci_lo, (SELECT MAX(mean) FROM m) AS ci_hi
          |FROM r""".stripMargin,
      "eval_pr" ->
        """WITH q AS (SELECT CAST(FLOOR(CAST(value AS DOUBLE) * 100 + 0.5) AS BIGINT) AS qs,
          |    (event_type = 'purchase') AS y FROM events),
          |g AS (SELECT qs, COUNT(*) AS cnt,
          |    SUM(CASE WHEN y THEN 1 ELSE 0 END) AS np FROM q GROUP BY qs),
          |c AS (SELECT qs, CAST(SUM(np) OVER w AS BIGINT) AS tp,
          |    CAST(SUM(cnt - np) OVER w AS BIGINT) AS fp,
          |    CAST(SUM(np) OVER () AS BIGINT) AS p FROM g
          |  WINDOW w AS (ORDER BY qs DESC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
          |SELECT qs AS threshold_centi, tp, fp,
          |  CAST(tp AS DOUBLE) / (tp + fp) AS precision,
          |  CASE WHEN p > 0 THEN CAST(tp AS DOUBLE) / p END AS recall
          |FROM c ORDER BY threshold_centi DESC""".stripMargin,
      "eval_logloss" ->
        s"""WITH q AS (SELECT LEAST(GREATEST(
           |      CAST(FLOOR(CAST(value AS DOUBLE) / 512 * 1000 + 0.5) AS BIGINT), 1), 999) AS qp,
           |    (event_type = 'purchase') AS y FROM events),
           |t AS (SELECT [${graft.operators.Eval.logLossWeights.mkString(", ")}] AS w)
           |SELECT CAST(COUNT(*) AS BIGINT) AS n,
           |  CAST(SUM(w[CAST(CASE WHEN y THEN qp ELSE 1000 - qp END AS INT)]) AS BIGINT) AS logloss_q
           |FROM q, t""".stripMargin,
      "eval_ks" ->
        """WITH q AS (SELECT CAST(FLOOR(CAST(value AS DOUBLE) * 100 + 0.5) AS BIGINT) AS qs,
          |    (event_type = 'purchase') AS y FROM events),
          |g AS (SELECT qs, COUNT(*) AS cnt,
          |    SUM(CASE WHEN y THEN 1 ELSE 0 END) AS np FROM q GROUP BY qs),
          |c AS (SELECT qs,
          |    CAST(SUM(np) OVER w AS HUGEINT) AS tp,
          |    CAST(SUM(cnt - np) OVER w AS HUGEINT) AS fp,
          |    CAST(SUM(np) OVER () AS HUGEINT) AS p,
          |    CAST(SUM(cnt - np) OVER () AS HUGEINT) AS nn FROM g
          |  WINDOW w AS (ORDER BY qs DESC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
          |d AS (SELECT qs, ABS(tp * nn - fp * p) AS dd, p, nn FROM c),
          |m AS (SELECT MAX(dd) AS dmax,
          |    MAX(dd * CAST('10000000000000000000' AS HUGEINT)
          |      + (CAST('5000000000000000000' AS HUGEINT) - qs)) AS pk,
          |    ANY_VALUE(p) AS p, ANY_VALUE(nn) AS nn FROM d)
          |SELECT CAST(p AS BIGINT) AS n_pos, CAST(nn AS BIGINT) AS n_neg,
          |  CAST(CAST('5000000000000000000' AS HUGEINT)
          |    - pk % CAST('10000000000000000000' AS HUGEINT) AS BIGINT) AS ks_threshold_centi,
          |  CASE WHEN p > 0 AND nn > 0
          |    THEN CAST(dmax AS DOUBLE) / CAST(p * nn AS DOUBLE) END AS ks
          |FROM m""".stripMargin,
      "eval_ece" ->
        """WITH q AS (SELECT CAST(FLOOR(CAST(value AS DOUBLE) / 512 * 1000 + 0.5) AS BIGINT) AS qp,
          |    (event_type = 'purchase') AS y FROM events),
          |b AS (SELECT LEAST(qp * 10 // 1000, 9) AS bin, qp, y FROM q),
          |g AS (SELECT bin, COUNT(*) AS n, SUM(qp) AS sq,
          |    SUM(CASE WHEN y THEN 1 ELSE 0 END) AS pos FROM b GROUP BY bin)
          |SELECT CAST(SUM(n) AS BIGINT) AS n,
          |  CAST(SUM(ABS(1000 * pos - sq)) AS BIGINT) AS ece_num,
          |  CAST(SUM(ABS(1000 * pos - sq)) AS DOUBLE) / (SUM(n) * 1000) AS ece
          |FROM g""".stripMargin,
      "eval_brier" ->
        """WITH q AS (SELECT CAST(FLOOR(CAST(value AS DOUBLE) / 512 * 1000 + 0.5) AS BIGINT)
          |      - CASE WHEN event_type = 'purchase' THEN 1000 ELSE 0 END AS e FROM events)
          |SELECT CAST(COUNT(*) AS BIGINT) AS n,
          |  CAST(SUM(CAST(e * e AS HUGEINT)) AS BIGINT) AS brier_num,
          |  CAST(SUM(CAST(e * e AS HUGEINT)) AS DOUBLE) / (COUNT(*) * 1000000) AS brier
          |FROM q""".stripMargin,
      // Poisson-bootstrap replay: per-(event, replica) weight = number
      // of baked inverse-CDF thresholds (floor(CDF_Pois(1)·2^28), the
      // Eval.PoissonCdf28 table) cleared by the md5-28-bit hash of
      // "id_replica" — no RNG, no libm; replica means are one double
      // division of exact int64 sums; at 32 replicas the 2.5/97.5%
      // percentile ranks are 1 and 32, i.e. the replica MIN/MAX
      "eval_brier_ci" ->
        s"""WITH b1 AS (SELECT CAST(event_id AS VARCHAR) AS id,
          |    CAST(FLOOR(CAST(value AS DOUBLE) / 512 * 1000 + 0.5) AS BIGINT)
          |      - CASE WHEN event_type = 'purchase' THEN 1000 ELSE 0 END AS e
          |  FROM events),
          |b2 AS (SELECT id, e * e AS e2 FROM b1),
          |r AS (SELECT id, e2, unnest(range(32)) AS rb FROM b2),
          |uw AS (SELECT e2, rb,
          |    (CASE WHEN u >= 98751885 THEN 1 ELSE 0 END) + (CASE WHEN u >= 197503771 THEN 1 ELSE 0 END)
          |  + (CASE WHEN u >= 246879713 THEN 1 ELSE 0 END) + (CASE WHEN u >= 263338361 THEN 1 ELSE 0 END)
          |  + (CASE WHEN u >= 267453023 THEN 1 ELSE 0 END) + (CASE WHEN u >= 268275955 THEN 1 ELSE 0 END)
          |  + (CASE WHEN u >= 268413111 THEN 1 ELSE 0 END) AS w
          |  FROM (SELECT e2, rb, ${sqlHash("id || '_' || CAST(rb AS VARCHAR)")} % 268435456 AS u FROM r)),
          |rep AS (SELECT rb, CAST(SUM(w) AS BIGINT) AS nb, CAST(SUM(w * e2) AS BIGINT) AS numb
          |  FROM uw GROUP BY rb HAVING SUM(w) > 0),
          |m AS (SELECT CAST(numb AS DOUBLE) / (CAST(nb AS DOUBLE) * 1000000.0) AS mean FROM rep)
          |SELECT CAST(COUNT(*) AS BIGINT) AS n,
          |  CAST(SUM(CAST(e2 AS HUGEINT)) AS DOUBLE) / (COUNT(*) * 1000000) AS brier,
          |  (SELECT MIN(mean) FROM m) AS ci_lo, (SELECT MAX(mean) FROM m) AS ci_hi
          |FROM b2""".stripMargin,
      "eval_calibration" ->
        """WITH q AS (SELECT CAST(FLOOR(CAST(value AS DOUBLE) / 512 * 1000 + 0.5) AS BIGINT) AS qp,
          |    (event_type = 'purchase') AS y FROM events),
          |b AS (SELECT LEAST(qp * 10 // 1000, 9) AS bin, qp, y FROM q)
          |SELECT bin, COUNT(*) AS n,
          |  CAST(SUM(qp) AS DOUBLE) / (COUNT(*) * 1000) AS mean_prob,
          |  CAST(SUM(CASE WHEN y THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS frac_pos
          |FROM b GROUP BY bin ORDER BY bin""".stripMargin,
      "eval_confusion" ->
        """WITH q AS (SELECT CAST(FLOOR(CAST(value AS DOUBLE) * 100 + 0.5) AS BIGINT) >= 25000 AS pred,
          |    (event_type = 'purchase') AS y FROM events),
          |c AS (SELECT
          |    CAST(SUM(CASE WHEN pred AND y THEN 1 ELSE 0 END) AS BIGINT) AS tp,
          |    CAST(SUM(CASE WHEN pred AND NOT y THEN 1 ELSE 0 END) AS BIGINT) AS fp,
          |    CAST(SUM(CASE WHEN NOT pred AND y THEN 1 ELSE 0 END) AS BIGINT) AS fn,
          |    CAST(SUM(CASE WHEN NOT pred AND NOT y THEN 1 ELSE 0 END) AS BIGINT) AS tn
          |  FROM q)
          |SELECT tp, fp, fn, tn,
          |  CASE WHEN tp + fp > 0 THEN CAST(tp AS DOUBLE) / (tp + fp) END AS precision,
          |  CASE WHEN tp + fn > 0 THEN CAST(tp AS DOUBLE) / (tp + fn) END AS recall,
          |  CASE WHEN 2 * tp + fp + fn > 0 THEN CAST(2 * tp AS DOUBLE) / (2 * tp + fp + fn) END AS f1
          |FROM c""".stripMargin,
      // lift replay: per-user conversion frame, md5-parity arms, the
      // eval_brier_ci Poisson threshold weights per (user, replica),
      // replica lifts as the identical fixed double tree, band =
      // replica min/max at 32 reps; degenerate replicas drop
      "eval_lift_ci" ->
        s"""WITH uu AS (SELECT user_id, MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS y
           |  FROM events GROUP BY user_id),
           |b AS (SELECT CAST(user_id AS VARCHAR) AS id,
           |    (${sqlHash("CAST(user_id AS VARCHAR)")} % 2 = 1) AS t, y FROM uu),
           |r AS (SELECT id, t, y, unnest(range(32)) AS rb FROM b),
           |uw AS (SELECT t, y, rb,
           |    (CASE WHEN u >= 98751885 THEN 1 ELSE 0 END) + (CASE WHEN u >= 197503771 THEN 1 ELSE 0 END)
           |  + (CASE WHEN u >= 246879713 THEN 1 ELSE 0 END) + (CASE WHEN u >= 263338361 THEN 1 ELSE 0 END)
           |  + (CASE WHEN u >= 267453023 THEN 1 ELSE 0 END) + (CASE WHEN u >= 268275955 THEN 1 ELSE 0 END)
           |  + (CASE WHEN u >= 268413111 THEN 1 ELSE 0 END) AS w
           |  FROM (SELECT t, y, rb, ${sqlHash("id || '_' || CAST(rb AS VARCHAR)")} % 268435456 AS u FROM r)),
           |rep AS (SELECT rb,
           |    CAST(SUM(CASE WHEN NOT t THEN w ELSE 0 END) AS BIGINT) AS na,
           |    CAST(SUM(CASE WHEN NOT t THEN w * y ELSE 0 END) AS BIGINT) AS ca,
           |    CAST(SUM(CASE WHEN t THEN w ELSE 0 END) AS BIGINT) AS nb,
           |    CAST(SUM(CASE WHEN t THEN w * y ELSE 0 END) AS BIGINT) AS cb
           |  FROM uw GROUP BY rb
           |  HAVING SUM(CASE WHEN NOT t THEN w ELSE 0 END) > 0
           |    AND SUM(CASE WHEN t THEN w ELSE 0 END) > 0
           |    AND SUM(CASE WHEN NOT t THEN w * y ELSE 0 END) > 0),
           |m AS (SELECT (CAST(cb AS DOUBLE) / CAST(nb AS DOUBLE))
           |    / (CAST(ca AS DOUBLE) / CAST(na AS DOUBLE)) AS lift FROM rep),
           |tot AS (SELECT CAST(SUM(CASE WHEN NOT t THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
           |    CAST(SUM(CASE WHEN NOT t THEN y ELSE 0 END) AS BIGINT) AS sa,
           |    CAST(SUM(CASE WHEN t THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
           |    CAST(SUM(CASE WHEN t THEN y ELSE 0 END) AS BIGINT) AS sb FROM b)
           |SELECT n_a, n_b,
           |  CASE WHEN n_a > 0 THEN CAST(sa AS DOUBLE) / CAST(n_a AS DOUBLE) END AS conv_a,
           |  CASE WHEN n_b > 0 THEN CAST(sb AS DOUBLE) / CAST(n_b AS DOUBLE) END AS conv_b,
           |  CASE WHEN n_a > 0 AND n_b > 0 AND sa > 0
           |    THEN (CAST(sb AS DOUBLE) / CAST(n_b AS DOUBLE)) / (CAST(sa AS DOUBLE) / CAST(n_a AS DOUBLE)) END AS lift,
           |  (SELECT MIN(lift) FROM m) AS ci_lo, (SELECT MAX(lift) FROM m) AS ci_hi
           |FROM tot""".stripMargin,
      // closed-form planted constants: with arm-constant outcomes the
      // resampled rate Σw·y/Σw is weight-invariant, so lift and BOTH
      // band ends are exact literals — no md5, no Poisson thresholds,
      // no bootstrap replay anywhere in this oracle
      "eval_lift_witness" ->
        """WITH n AS (SELECT
          |    CAST(SUM(CASE WHEN c_custkey % 2 <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
          |    CAST(SUM(CASE WHEN c_custkey % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_b
          |  FROM customer)
          |SELECT * FROM (
          |  SELECT 'killed' AS scenario, n_a, n_b,
          |    CAST(1.0 AS DOUBLE) AS conv_a, CAST(0.0 AS DOUBLE) AS conv_b,
          |    CAST(0.0 AS DOUBLE) AS lift,
          |    CAST(0.0 AS DOUBLE) AS ci_lo, CAST(0.0 AS DOUBLE) AS ci_hi FROM n
          |  UNION ALL
          |  SELECT 'unit', n_a, n_b,
          |    CAST(1.0 AS DOUBLE), CAST(1.0 AS DOUBLE), CAST(1.0 AS DOUBLE),
          |    CAST(1.0 AS DOUBLE), CAST(1.0 AS DOUBLE) FROM n)
          |ORDER BY scenario""".stripMargin,
      // MCC replay: exact HUGEINT confusion products, the identical
      // multiply/sqrt/divide tree, NULL on any empty marginal
      "eval_mcc" ->
        """WITH q AS (SELECT CAST(FLOOR(CAST(value AS DOUBLE) * 100 + 0.5) AS BIGINT) >= 25000 AS pred,
          |    (event_type = 'purchase') AS y FROM events),
          |c AS (SELECT
          |    CAST(SUM(CASE WHEN pred AND y THEN 1 ELSE 0 END) AS BIGINT) AS tp,
          |    CAST(SUM(CASE WHEN pred AND NOT y THEN 1 ELSE 0 END) AS BIGINT) AS fp,
          |    CAST(SUM(CASE WHEN NOT pred AND y THEN 1 ELSE 0 END) AS BIGINT) AS fn,
          |    CAST(SUM(CASE WHEN NOT pred AND NOT y THEN 1 ELSE 0 END) AS BIGINT) AS tn
          |  FROM q)
          |SELECT tp, fp, fn, tn,
          |  CASE WHEN tp + fp > 0 AND tp + fn > 0 AND tn + fp > 0 AND tn + fn > 0
          |    THEN CAST(CAST(tp AS HUGEINT) * tn - CAST(fp AS HUGEINT) * fn AS DOUBLE)
          |      / SQRT(CAST(CAST(tp + fp AS HUGEINT) * (tp + fn) * (tn + fp) * (tn + fn) AS DOUBLE))
          |  END AS mcc
          |FROM c""".stripMargin,
      // kappa replay: booleans cast to VARCHAR categories exactly as
      // the engine does; marginal products in HUGEINT, κ = the same
      // cross-multiplied single division
      "eval_kappa" ->
        """WITH q AS (SELECT
          |    CAST(CAST(FLOOR(CAST(value AS DOUBLE) * 100 + 0.5) AS BIGINT) >= 25000 AS VARCHAR) AS a,
          |    CAST(event_type = 'purchase' AS VARCHAR) AS b FROM events),
          |cells AS (SELECT a, b, COUNT(*) AS c FROM q GROUP BY a, b),
          |tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n,
          |    CAST(COALESCE(SUM(CASE WHEN a = b THEN c END), 0) AS BIGINT) AS agree FROM cells),
          |rk AS (SELECT a AS k, SUM(c) AS r FROM cells GROUP BY a),
          |ck AS (SELECT b AS k, SUM(c) AS cc FROM cells GROUP BY b),
          |pex AS (SELECT COALESCE(SUM(CAST(r AS HUGEINT) * cc), 0) AS pe FROM rk JOIN ck USING (k))
          |SELECT n, agree, CAST(agree AS DOUBLE) / CAST(n AS DOUBLE) AS po,
          |  CAST(pex.pe AS DOUBLE) / CAST(CAST(n AS HUGEINT) * n AS DOUBLE) AS pe,
          |  CASE WHEN CAST(n AS HUGEINT) * n <> pex.pe
          |    THEN CAST(CAST(n AS HUGEINT) * agree - pex.pe AS DOUBLE)
          |       / CAST(CAST(n AS HUGEINT) * n - pex.pe AS DOUBLE) END AS kappa
          |FROM tot CROSS JOIN pex""".stripMargin,
      // simplified-silhouette replay: the dedup_semantic centroid CTE,
      // exact int64 squared distances to every centroid, the identical
      // (√b−√a)/max(√a,√b) double tree, 2^-20 quantization before the
      // order-free per-cluster mean
      "eval_silhouette" ->
        s"""WITH q0 AS (SELECT vec_id, CAST(label AS BIGINT) AS cluster,
           |    list_transform(embedding, x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1048576.0) AS BIGINT)) AS qv FROM embeddings),
           |cents AS ${sqlCentSelect("q0", "cluster", "cluster")},
           |j AS (SELECT q0.vec_id, q0.cluster, cents.cluster AS cc,
           |    list_sum(list_transform(list_zip(q0.qv, cents.cv), p -> (p[1] - p[2]) * (p[1] - p[2]))) AS d2
           |  FROM q0 CROSS JOIN cents),
           |ab AS (SELECT vec_id, cluster, MIN(CASE WHEN cc = cluster THEN d2 END) AS a2,
           |    MIN(CASE WHEN cc <> cluster THEN d2 END) AS b2 FROM j GROUP BY vec_id, cluster),
           |sil AS (SELECT cluster,
           |    CASE WHEN GREATEST(SQRT(CAST(a2 AS DOUBLE)), SQRT(CAST(b2 AS DOUBLE))) = 0 THEN 0.0
           |    ELSE (SQRT(CAST(b2 AS DOUBLE)) - SQRT(CAST(a2 AS DOUBLE)))
           |       / GREATEST(SQRT(CAST(a2 AS DOUBLE)), SQRT(CAST(b2 AS DOUBLE))) END AS s FROM ab),
           |qs AS (SELECT cluster, CAST(FLOOR(s * 1048576.0) AS BIGINT) AS sq FROM sil)
           |SELECT cluster, COUNT(*) AS n,
           |  CAST(SUM(sq) AS DOUBLE) / (CAST(COUNT(*) AS DOUBLE) * 1048576.0) AS mean_silhouette
           |FROM qs GROUP BY cluster ORDER BY cluster""".stripMargin,
      // Davies–Bouldin replay: same centroid CTE, the identical
      // sqrt·2^20-floor distance tree, floor(mean) scatter, k² pair
      // ratios with zero-separation pairs dropped from the max
      "eval_db_index" ->
        s"""WITH q0 AS (SELECT vec_id, CAST(label AS BIGINT) AS cluster,
           |    list_transform(embedding, x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1048576.0) AS BIGINT)) AS qv FROM embeddings),
           |cents AS ${sqlCentSelect("q0", "cluster", "cluster")},
           |dd AS (SELECT q0.cluster,
           |    CAST(FLOOR(SQRT(CAST(list_sum(list_transform(list_zip(q0.qv, cents.cv), p -> (p[1] - p[2]) * (p[1] - p[2]))) AS DOUBLE)) * 1048576.0) AS BIGINT) AS dq
           |  FROM q0 JOIN cents ON q0.cluster = cents.cluster),
           |sc AS (SELECT cluster, CAST(COUNT(*) AS BIGINT) AS n,
           |    CAST(FLOOR(CAST(SUM(dq) AS DOUBLE) / COUNT(*)) AS BIGINT) AS scatter_q
           |  FROM dd GROUP BY cluster),
           |f AS (SELECT sc.cluster, sc.n, sc.scatter_q, cents.cv FROM sc JOIN cents USING (cluster)),
           |pr AS (SELECT a.cluster, a.n, a.scatter_q,
           |    list_sum(list_transform(list_zip(a.cv, b.cv), p -> (p[1] - p[2]) * (p[1] - p[2]))) AS m2,
           |    CAST(a.scatter_q + b.scatter_q AS DOUBLE)
           |      / (1048576.0 * SQRT(CAST(list_sum(list_transform(list_zip(a.cv, b.cv), p -> (p[1] - p[2]) * (p[1] - p[2]))) AS DOUBLE))) AS ratio
           |  FROM f a JOIN f b ON a.cluster <> b.cluster)
           |SELECT cluster, n, scatter_q, MAX(CASE WHEN m2 > 0 THEN ratio END) AS r_worst
           |FROM pr GROUP BY cluster, n, scatter_q ORDER BY cluster""".stripMargin,
      // constant-residual witness: every |residual| is exactly 37
      // centi, so q̂ and coverage are LITERALS (closed form, see the
      // query site) and the split is plain parity — zero rank/window/
      // ceil-division arithmetic shared with the operator
      "eval_conformal_witness" ->
        """SELECT
          |  CAST(SUM(CASE WHEN event_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_cal,
          |  CAST(SUM(CASE WHEN event_id % 2 <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_test,
          |  CAST(37 AS BIGINT) AS qhat_c,
          |  CAST(1.0 AS DOUBLE) AS coverage
          |FROM events""".stripMargin,
      // conformal replay: identical centi residuals, md5-parity split,
      // integer ceil-divided rank, value-counting q̂, one coverage
      // division
      "eval_conformal" ->
        s"""WITH b AS (SELECT CAST(event_id AS VARCHAR) AS id,
           |    CAST(FLOOR(CAST(value AS DOUBLE) * 100 + 0.5) AS BIGINT) AS pc FROM events),
           |d AS (SELECT id, pc, (pc + (${sqlHash("id || '_a'")} % 101) - 50) / 100.0 AS actual FROM b),
           |r AS (SELECT ABS(pc - CAST(FLOOR(CAST(actual AS DOUBLE) * 100 + 0.5) AS BIGINT)) AS r,
           |    (${sqlHash("id")} % 2 = 0) AS cal FROM d),
           |n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_cal FROM r WHERE cal),
           |rk AS (SELECT CAST(FLOOR(CAST((n_cal + 1) * 9 + 9 AS DOUBLE) / 10.0) AS BIGINT) AS rank FROM n),
           |cc AS (SELECT r, COUNT(*) AS c FROM r WHERE cal GROUP BY r),
           |cum AS (SELECT r, SUM(c) OVER (ORDER BY r ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM cc),
           |q AS (SELECT MIN(r) AS qhat_c FROM cum CROSS JOIN rk WHERE cum >= rank),
           |t AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_test,
           |    CAST(SUM(CASE WHEN q.qhat_c IS NOT NULL
           |      THEN (CASE WHEN r.r <= q.qhat_c THEN 1 ELSE 0 END) END) AS BIGINT) AS cov
           |  FROM r CROSS JOIN q WHERE NOT cal)
           |SELECT n.n_cal, t.n_test, q.qhat_c,
           |  CAST(cov AS DOUBLE) / CAST(n_test AS DOUBLE) AS coverage
           |FROM n CROSS JOIN t CROSS JOIN q""".stripMargin,
      "ev_holt" ->
        """WITH RECURSIVE l AS (
          |  SELECT user_id, list(CAST(value AS DOUBLE) ORDER BY ts, value) AS vals,
          |    COUNT(*) AS n FROM events GROUP BY user_id),
          |rec AS (
          |  SELECT user_id, n, vals, 1 AS i, vals[1] AS l,
          |    CASE WHEN n >= 2 THEN vals[2] - vals[1] ELSE 0.0 END AS b
          |  FROM l
          |  UNION ALL
          |  SELECT user_id, n, vals, i + 1,
          |    (2 * vals[i + 1] + 8 * (l + b)) / 10,
          |    (3 * ((2 * vals[i + 1] + 8 * (l + b)) / 10 - l) + 7 * b) / 10
          |  FROM rec WHERE i < n)
          |SELECT user_id, n AS n_events, l AS level, b AS trend
          |FROM rec WHERE i = n ORDER BY user_id""".stripMargin,
      // CLOSED FORM — no recursion: on the deterministic linear ramp the
      // engine built (base = user_id%50, slope = user_id%7+1, t = 1..n),
      // Holt with any smoothing lands at level = base + slope*n and
      // trend = slope (trend 0 for single-event users)
      "ev_holt_ramp" ->
        """SELECT user_id, COUNT(*) AS n_events,
          |  CAST(user_id % 50 + (user_id % 7 + 1) * COUNT(*) AS DOUBLE) AS level,
          |  CAST(CASE WHEN COUNT(*) >= 2 THEN user_id % 7 + 1 ELSE 0 END AS DOUBLE) AS trend
          |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
      "ev_seasonal_outliers" ->
        """WITH m AS (SELECT EXTRACT(HOUR FROM ts) AS hr,
          |    CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS seasonal
          |  FROM events GROUP BY 1)
          |SELECT event_id, CAST(m.hr AS BIGINT) AS hr, value,
          |  value - seasonal AS residual
          |FROM events e JOIN m ON EXTRACT(HOUR FROM e.ts) = m.hr
          |ORDER BY ABS(value - seasonal) DESC, event_id LIMIT 20""".stripMargin,
      "ev_top_paths" ->
        """WITH s AS (SELECT user_id, event_type,
          |    lead(event_type, 1) OVER w AS e1, lead(event_type, 2) OVER w AS e2
          |  FROM events WHERE event_type IS NOT NULL
          |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
          |SELECT event_type || '>' || e1 || '>' || e2 AS path, COUNT(*) AS n
          |FROM s WHERE e2 IS NOT NULL
          |GROUP BY 1 ORDER BY n DESC, path LIMIT 15""".stripMargin,
      "ev_seasonal" ->
        """WITH m AS (SELECT EXTRACT(HOUR FROM ts) AS hr,
          |    CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS seasonal
          |  FROM events GROUP BY 1)
          |SELECT event_id, CAST(m.hr AS BIGINT) AS hr, value, seasonal,
          |  value - seasonal AS residual
          |FROM events e JOIN m ON EXTRACT(HOUR FROM e.ts) = m.hr
          |ORDER BY event_id""".stripMargin,
      "ev_intervals" ->
        """WITH iv AS (SELECT user_id, epoch_us(ts) AS s, epoch_us(ts) + 300000000 AS e FROM events),
          |m AS (SELECT user_id, s, e,
          |  max(e) OVER (PARTITION BY user_id ORDER BY s, e ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pme
          |  FROM iv),
          |f AS (SELECT user_id, s, e, CASE WHEN pme IS NULL OR s > pme THEN 1 ELSE 0 END AS opens FROM m),
          |g AS (SELECT user_id, s, e,
          |  SUM(opens) OVER (PARTITION BY user_id ORDER BY s, e ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
          |  FROM f),
          |isl AS (SELECT user_id, island, min(s) AS st, max(e) AS en FROM g GROUP BY 1, 2)
          |SELECT user_id, count(*) AS n_intervals, CAST(SUM(en - st) AS BIGINT) AS covered_us
          |FROM isl GROUP BY user_id ORDER BY user_id""".stripMargin,
      // median/MAD robust outliers: type-1 medians from value counts,
      // pure integer test |v - med| > 3*mad (mirrors Features.robustOutliers)
      "feat_rank_normalize" ->
        """SELECT c_custkey, c_mktsegment, c_acctbal,
          |  percent_rank() OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal) AS rank_norm
          |FROM customer ORDER BY c_custkey""".stripMargin,
      "feat_target_encode" ->
        """WITH c AS (SELECT c_custkey, c_mktsegment, c_acctbal,
          |    CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) AS y FROM customer),
          |g AS (SELECT c_mktsegment, CAST(SUM(y) AS BIGINT) AS sy, COUNT(*) AS ng
          |  FROM c GROUP BY c_mktsegment)
          |SELECT c.c_custkey, c.c_mktsegment, c.c_acctbal,
          |  CASE WHEN ng > 1 THEN CAST(sy - y AS DOUBLE) / CAST((ng - 1) * 100 AS DOUBLE) END AS te
          |FROM c JOIN g USING (c_mktsegment) ORDER BY c_custkey""".stripMargin,
      "feat_robust" ->
        """WITH c AS (SELECT lang, n_chars AS v, COUNT(*) AS cnt FROM documents GROUP BY 1, 2),
          |r AS (SELECT lang, v,
          |    SUM(cnt) OVER (PARTITION BY lang ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
          |    SUM(cnt) OVER (PARTITION BY lang) AS n FROM c),
          |med AS (SELECT lang, MIN(v) AS med FROM r WHERE cum * 2 >= n GROUP BY lang),
          |d AS (SELECT dd.lang, abs(dd.n_chars - m.med) AS dev FROM documents dd JOIN med m USING (lang)),
          |dc AS (SELECT lang, dev, COUNT(*) AS cnt FROM d GROUP BY 1, 2),
          |dr AS (SELECT lang, dev,
          |    SUM(cnt) OVER (PARTITION BY lang ORDER BY dev ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
          |    SUM(cnt) OVER (PARTITION BY lang) AS n FROM dc),
          |mad AS (SELECT lang, MIN(dev) AS mad FROM dr WHERE cum * 2 >= n GROUP BY lang)
          |SELECT dd.doc_id, dd.lang, dd.n_chars, m.med, a.mad,
          |  abs(dd.n_chars - m.med) > a.mad * 3 AS is_outlier
          |FROM documents dd JOIN med m USING (lang) JOIN mad a USING (lang)
          |ORDER BY dd.doc_id""".stripMargin,
      // INDEPENDENT formulation: NOT EXISTS dominance test vs the Spark
      // side's bucketed running-max algorithm (oracle-independence (b))
      "sel_skyline" ->
        """WITH pts AS (SELECT DISTINCT o_totalprice AS x, o_orderdate AS y FROM orders
          |  WHERE o_totalprice IS NOT NULL AND o_orderdate IS NOT NULL)
          |SELECT x, y FROM pts p
          |WHERE NOT EXISTS (SELECT 1 FROM pts q
          |  WHERE q.x >= p.x AND q.y >= p.y AND (q.x > p.x OR q.y > p.y))
          |ORDER BY x, y""".stripMargin,
      // INDEPENDENT formulation: brute-force all-pairs edit distance vs
      // the Spark side's deletion-neighborhood candidate join (the
      // length-diff predicate is a Levenshtein lower bound, pure pruning)
      "dedup_fuzzy" ->
        """WITH r AS (SELECT c_custkey AS id, c_name AS name FROM customer)
          |SELECT a.id AS id_a, b.id AS id_b, levenshtein(a.name, b.name) AS dist
          |FROM r a JOIN r b
          |  ON a.id < b.id AND abs(length(a.name) - length(b.name)) <= 1
          |WHERE levenshtein(a.name, b.name) <= 1
          |ORDER BY id_a, id_b""".stripMargin,
      // identical oracle as dedup_fuzzy: the chunked execution is
      // result-identical by construction (wave = pmod slice of the
      // same candidate space)
      "dedup_fuzzy_chunked" ->
        """WITH r AS (SELECT c_custkey AS id, c_name AS name FROM customer)
          |SELECT a.id AS id_a, b.id AS id_b, levenshtein(a.name, b.name) AS dist
          |FROM r a JOIN r b
          |  ON a.id < b.id AND abs(length(a.name) - length(b.name)) <= 1
          |WHERE levenshtein(a.name, b.name) <= 1
          |ORDER BY id_a, id_b""".stripMargin,
      // planted-literal witness: the pair set is hand-derived and
      // stated as VALUES — zero shared arithmetic with the operator
      // (hand derivation: 1="graft-0x41" 2="graft-0x42" 3="graft-0x4"
      // 4="graft-x041" 5="graft-0x41" 6="zzz"; 1-2 substitution, 3 is
      // 1/2 minus the last char, 5 duplicates 1, 4 is lev-2 from 1
      // despite sharing the deletion variant "graft-x41")
      "dedup_fuzzy_witness" ->
        """WITH n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_src
          |  FROM customer WHERE c_custkey BETWEEN 1 AND 6)
          |SELECT v.id_a, v.id_b, v.dist, n.n_src
          |FROM (VALUES (CAST(1 AS BIGINT), CAST(2 AS BIGINT), CAST(1 AS INTEGER)),
          |             (1, 3, 1), (1, 5, 0), (2, 3, 1), (2, 5, 1), (3, 5, 1))
          |  AS v(id_a, id_b, dist)
          |CROSS JOIN n ORDER BY v.id_a, v.id_b""".stripMargin,
      // linkage oracle: independent brute-force cross join + best-match
      // window — no shared blocking machinery with the engine's
      // deletion-neighborhood candidates
      "join_fuzzy" ->
        """WITH l AS (SELECT c_custkey AS id_l, c_name AS key_l FROM customer),
          |r AS (SELECT c_custkey + 1000000 AS id_r,
          |    substr(c_name, 1, 5) || substr(c_name, 7) AS key_r FROM customer),
          |s AS (SELECT id_l, key_l, id_r, key_r, levenshtein(key_l, key_r) AS dist
          |  FROM l JOIN r ON abs(length(key_l) - length(key_r)) <= 1),
          |f AS (SELECT *, row_number() OVER (PARTITION BY id_l ORDER BY dist, id_r) AS rn
          |  FROM s WHERE dist <= 1)
          |SELECT id_l, key_l, id_r, key_r, dist FROM f WHERE rn = 1 ORDER BY id_l""".stripMargin,
      "text_filter_quantile" ->
        s"""WITH t AS (SELECT doc_id, lang, CAST(len($sqlTokens) AS BIGINT) AS n_tokens FROM documents),
           |r AS (SELECT *, percent_rank() OVER (PARTITION BY lang ORDER BY n_tokens) AS pr FROM t)
           |SELECT doc_id, lang, n_tokens FROM r
           |WHERE pr >= 0.05 AND pr <= 0.95 ORDER BY doc_id""".stripMargin,
      "text_url_canon" -> {
        val messy =
          """(CASE WHEN doc_id % 2 = 0 THEN 'HTTP://' ELSE 'http://' END ||
            | CASE WHEN doc_id % 3 = 0 THEN 'WWW.' ELSE '' END ||
            | 'site' || CAST(doc_id % 25 AS VARCHAR) || '.example.com/p/' ||
            | CAST(doc_id % 50 AS VARCHAR) ||
            | CASE WHEN doc_id % 5 = 0 THEN '/' ELSE '' END ||
            | CASE WHEN doc_id % 7 = 0 THEN '?utm_source=feed&ref=x' ELSE '' END ||
            | CASE WHEN doc_id % 11 = 0 THEN '#frag' ELSE '' END)""".stripMargin.replace("\n", "")
        val canon = TextFunctions.UrlCanonPatterns.foldLeft(s"lower($messy)") {
          // DuckDB standard strings keep backslashes verbatim — do NOT
          // double them (same convention as sqlTokens' '\s+')
          case (acc, (re, repl)) =>
            s"regexp_replace($acc, '${re.replace("'", "''")}', '$repl', 'g')"
        }
        s"""SELECT $canon AS canon, COUNT(*) AS n FROM documents
           |GROUP BY 1 ORDER BY canon""".stripMargin
      },
      "text_winsorize" ->
        s"""WITH t AS (SELECT doc_id, lang, CAST(len($sqlTokens) AS BIGINT) AS n_tokens FROM documents),
           |r AS (SELECT *, percent_rank() OVER (PARTITION BY lang ORDER BY n_tokens) AS pr FROM t),
           |e AS (SELECT lang,
           |  COALESCE(MIN(CASE WHEN pr >= 0.05 THEN n_tokens END), MIN(n_tokens)) AS lov,
           |  COALESCE(MAX(CASE WHEN pr <= 0.95 THEN n_tokens END), MAX(n_tokens)) AS hiv
           |  FROM r GROUP BY lang)
           |SELECT t.doc_id, t.lang, t.n_tokens,
           |  LEAST(GREATEST(t.n_tokens, e.lov), e.hiv) AS winsorized
           |FROM t JOIN e ON t.lang = e.lang ORDER BY doc_id""".stripMargin,
      "text_filter_thresholds" ->
        s"""WITH t AS (SELECT doc_id, lang, CAST(len($sqlTokens) AS BIGINT) AS n_tokens FROM documents),
           |th AS (SELECT lang, ROUND(quantile_cont(n_tokens, 0.05), 6) AS lo,
           |  ROUND(quantile_cont(n_tokens, 0.95), 6) AS hi FROM t GROUP BY lang)
           |SELECT t.doc_id, t.lang, t.n_tokens FROM t JOIN th ON t.lang = th.lang
           |WHERE t.n_tokens >= th.lo AND t.n_tokens <= th.hi
           |ORDER BY doc_id""".stripMargin,
      "text_chunks" ->
        s"""WITH t AS (SELECT doc_id, $sqlTokens AS ts FROM documents),
           |c AS (SELECT doc_id, ts, unnest(range(0, len(ts), 16)) AS tok_start FROM t)
           |SELECT doc_id, tok_start // 16 AS chunk_idx, tok_start,
           |  CAST(len(list_slice(ts, tok_start + 1, tok_start + 32)) AS BIGINT) AS n_tokens,
           |  array_to_string(list_slice(ts, tok_start + 1, tok_start + 32), ' ') AS chunk_text
           |FROM c ORDER BY doc_id, chunk_idx""".stripMargin,
      "text_repetition" ->
        s"""WITH t AS (SELECT doc_id, $sqlTokens AS ts FROM documents),
           |b AS (SELECT doc_id, ts,
           |  list_transform(range(1, greatest(len(ts)-1,0)+1), i -> ts[i] || ' ' || ts[i+1]) AS bg
           |FROM t)
           |SELECT doc_id, CAST(len(ts) AS BIGINT) AS n_tokens,
           |  CAST(len(ts) - len(list_distinct(ts)) AS DOUBLE) / len(ts) AS dup_token_frac,
           |  CASE WHEN len(bg) = 0 THEN 0.0
           |       ELSE CAST(list_max(list_transform(bg, x -> len(list_filter(bg, y -> y = x)))) AS DOUBLE) / len(bg)
           |  END AS top_bigram_frac,
           |  CASE WHEN len(bg) = 0 THEN 0.0
           |       ELSE CAST(len(list_filter(bg, x -> len(list_filter(bg, y -> y = x)) > 1)) AS DOUBLE) / len(bg)
           |  END AS dup_bigram_frac
           |FROM b ORDER BY doc_id""".stripMargin,
      "text_fingerprint" ->
        s"""WITH t AS (SELECT doc_id, text,
           |  list_transform($sqlTokens, tk -> ${sqlHash("tk")}) AS hs FROM documents)
           |SELECT doc_id,
           |  md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp_md5,
           |  CAST(list_sum(list_transform(range(1, len(hs)+1), i -> hs[i] * ($rollW)[(i-1)%8 + 1])) % ${TextFunctions.RollP} AS BIGINT) AS fp_roll
           |FROM t ORDER BY doc_id""".stripMargin,

      "pack_sequences" ->
        s"""WITH t AS (SELECT doc_id, source, CAST(len($sqlTokens) AS BIGINT) AS n_tokens FROM documents),
           |o AS (SELECT doc_id, source, n_tokens,
           |  CAST(SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id ROWS UNBOUNDED PRECEDING) - n_tokens AS BIGINT) AS tok_offset
           |FROM t)
           |SELECT doc_id, source, n_tokens, tok_offset,
           |  tok_offset // 2048 AS pack_id, tok_offset % 2048 AS pack_pos
           |FROM o ORDER BY doc_id""".stripMargin,
      // FFD replay: one recursion step per (shard, doc) in the same
      // (n DESC, doc_id) order; the bin-loads LIST rides the recursion
      // state, first-fit = the first index whose load admits the doc
      // (a different formulation than the engine's segment tree —
      // the oracle is O(d·bins), the operator O(d·log bins))
      "pack_bins" ->
        s"""WITH RECURSIVE t AS (SELECT doc_id, source, CAST(len($sqlTokens) AS BIGINT) AS n FROM documents),
           |r AS (SELECT source, doc_id, n,
           |  row_number() OVER (PARTITION BY source ORDER BY n DESC, doc_id) AS rn FROM t),
           |ffd AS (
           |  SELECT source, 0 AS i, CAST([] AS BIGINT[]) AS bins,
           |    CAST(NULL AS BIGINT) AS doc_id, CAST(NULL AS BIGINT) AS n, CAST(NULL AS BIGINT) AS bin_id
           |  FROM (SELECT DISTINCT source FROM r)
           |  UNION ALL
           |  SELECT f.source, f.i + 1,
           |    CASE WHEN fit.fj IS NOT NULL
           |      THEN list_transform(range(1, len(f.bins)+1), q -> CASE WHEN q = fit.fj THEN f.bins[q] + r.n ELSE f.bins[q] END)
           |      ELSE list_append(f.bins, r.n) END,
           |    r.doc_id, r.n, COALESCE(fit.fj, len(f.bins) + 1)
           |  FROM ffd f
           |  JOIN r ON r.source = f.source AND r.rn = f.i + 1
           |  LEFT JOIN LATERAL (SELECT list_filter(range(1, len(f.bins)+1), q -> f.bins[q] + r.n <= 128)[1] AS fj) fit ON TRUE
           |)
           |SELECT source, doc_id, n AS n_tokens, bin_id
           |FROM ffd WHERE doc_id IS NOT NULL ORDER BY doc_id""".stripMargin,
      "pipe_curation" ->
        s"""WITH t0 AS (SELECT doc_id, source, text, $sqlTokens AS ts FROM documents),
           |sc AS (SELECT doc_id, source, text, ts,
           |  $stopSql
           |FROM t0),
           |lg AS (SELECT doc_id, source, text, ts, $langCase AS lang_pred,
           |  $sqlQuality AS quality,
           |  md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp
           |FROM sc),
           |f AS (SELECT * FROM lg WHERE quality >= 0.40),
           |k AS (SELECT *, MIN(doc_id) OVER (PARTITION BY fp) AS keeper FROM f),
           |sm AS (SELECT * FROM k WHERE doc_id = keeper
           |  AND CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)),1,7)) AS BIGINT) % 100
           |      < CASE WHEN lang_pred = 'en' THEN 50 ELSE 30 END),
           |p AS (SELECT doc_id, source, lang_pred, quality, CAST(len(ts) AS BIGINT) AS n_tokens FROM sm),
           |o AS (SELECT *, CAST(SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id ROWS UNBOUNDED PRECEDING) - n_tokens AS BIGINT) AS tok_offset FROM p)
           |SELECT doc_id, lang_pred, quality, n_tokens, tok_offset // 1024 AS pack_id
           |FROM o ORDER BY doc_id""".stripMargin,
      "sample_stratified" ->
        """SELECT doc_id, lang FROM documents
          |WHERE CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)),1,7)) AS BIGINT) % 100
          |  < CASE WHEN lang = 'en' THEN 50 ELSE 10 END
          |ORDER BY doc_id""".stripMargin,
      "sample_weighted" ->
        s"""WITH t AS (SELECT doc_id, lang, text, $sqlTokens AS ts FROM documents),
           |q AS (SELECT doc_id, lang, $sqlQuality AS quality FROM t)
           |SELECT doc_id, lang FROM q
           |WHERE CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)),1,7)) AS BIGINT) % 1000000
           |  < CAST(FLOOR(LEAST(GREATEST(quality, 0.0), 1.0) * 1000000) AS BIGINT)
           |ORDER BY doc_id""".stripMargin,
      // INDEPENDENT formulation: the oracle ranks with a window; the
      // engine uses the bounded TopKByScore aggregate + semi join.
      // Agreement proves the bounded plan selects exactly the window's
      // rows (lowest md5 bucket, asc-id tiebreak, first n per key).
      // temperature replay: same ⌊√(n_g·N)⌋ weights (one IEEE sqrt),
      // same exact integer micro-rates, same seed-11 md5 bucket
      "sample_temperature" ->
        """WITH st AS (SELECT lang, COUNT(*) AS ns FROM documents GROUP BY lang),
          |tot AS (SELECT CAST(SUM(ns) AS BIGINT) AS n FROM st),
          |w AS (SELECT lang, ns, CAST(FLOOR(SQRT(CAST(ns AS DOUBLE) * CAST(tot.n AS DOUBLE))) AS BIGINT) AS w FROM st, tot),
          |sw AS (SELECT CAST(SUM(w) AS BIGINT) AS sumw FROM w),
          |r AS (SELECT lang, LEAST(1000000, (200 * w * 1000000) // (sumw * ns)) AS rate FROM w, sw)
          |SELECT d.doc_id, d.lang FROM documents d JOIN r ON r.lang = d.lang
          |WHERE CAST(concat('0x', substr(md5(CAST(d.doc_id AS VARCHAR) || ':11'),1,7)) AS BIGINT) % 1000000 < rate
          |ORDER BY d.doc_id""".stripMargin,
      "sample_cap_per_key" ->
        """WITH b AS (SELECT doc_id, lang,
          |  CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)),1,7)) AS BIGINT) % 1000000 AS bucket
          |FROM documents),
          |r AS (SELECT doc_id, lang,
          |  row_number() OVER (PARTITION BY lang ORDER BY bucket, doc_id) AS rn FROM b)
          |SELECT doc_id, lang FROM r WHERE rn <= 40 ORDER BY doc_id""".stripMargin,
      // top-p mass cutoff: descending running mass over distinct values,
      // rational p, tie-inclusive keep (mirrors Sampling.topMassByScore)
      "sample_top_mass" ->
        """WITH m AS (SELECT lang, n_chars AS v, SUM(CAST(n_chars AS DECIMAL(28,6))) AS w
          |  FROM documents WHERE n_chars IS NOT NULL GROUP BY 1, 2),
          |r AS (SELECT lang, v,
          |    SUM(w) OVER (PARTITION BY lang ORDER BY v DESC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
          |    SUM(w) OVER (PARTITION BY lang) AS tot FROM m),
          |cut AS (SELECT lang, MAX(v) AS cutv FROM r WHERE tot > 0 AND cum * 2 >= tot GROUP BY lang)
          |SELECT d.doc_id, d.lang, d.n_chars
          |FROM documents d JOIN cut c ON d.lang = c.lang
          |WHERE d.n_chars >= c.cutv ORDER BY d.doc_id""".stripMargin,
      // DSIR replay: hashed-bigram bucket counts (the feat_hashing
      // md5-28-bit family) for raw = all docs and target = the 'en'
      // slice, add-one multinomials, quantized ilog2 likelihood ratio
      // summed per doc — same integer arithmetic as text_lm_score
      "sample_dsir" ->
        s"""WITH t AS (SELECT doc_id, lang, $sqlTokens AS ts FROM documents),
           |inst AS (SELECT doc_id, lang,
           |  unnest(ts[1:len(ts)-1]) AS w1, unnest(ts[2:len(ts)]) AS w2 FROM t),
           |b AS (SELECT doc_id, lang,
           |  ${sqlHash("w1 || ' ' || w2")} % 4096 AS bk FROM inst),
           |rc AS (SELECT bk, COUNT(*) AS cr FROM b GROUP BY bk),
           |tc AS (SELECT bk, COUNT(*) AS ct FROM b WHERE lang = 'en' GROUP BY bk),
           |rt AS (SELECT CAST(SUM(cr) AS BIGINT) AS rtot FROM rc),
           |tt AS (SELECT CAST(COALESCE(SUM(ct), 0) AS BIGINT) AS ttot FROM tc),
           |sc AS (SELECT doc_id,
           |    (length(bin(COALESCE(ct, 0) + 1)) - 1) - (length(bin(ttot + 4096)) - 1)
           |  - (length(bin(cr + 1)) - 1) + (length(bin(rtot + 4096)) - 1) AS lr
           |  FROM b JOIN rc USING (bk) LEFT JOIN tc USING (bk) CROSS JOIN rt CROSS JOIN tt)
           |SELECT doc_id, COUNT(*) AS n_grams, CAST(SUM(lr) AS BIGINT) AS dsir_q
           |FROM sc GROUP BY doc_id ORDER BY doc_id""".stripMargin,
      // in-engine classifier replay: the 16 fast-sigmoid GD iterations
      // unrolled as (per-row z | gradient aggregate | integer weight
      // update) CTE triples — every float op is a fixed tree of
      // correctly-rounded rational arithmetic both engines evaluate
      // bit-identically (no exp/libm anywhere), gradients floor-
      // quantized to 2^-30 HUGEINTs, weights on the 2^-24 integer grid
      // with a sign-split floor division (DuckDB's // truncates)
      "feat_logreg" -> logregOracleSql(iters = 16, lrNum = 16L),
      // non-replay GD witness: the oracle is the PLANTED closed-form
      // rule — zero shared arithmetic with the trainer
      "feat_logreg_sep" ->
        """SELECT doc_id,
          |  CAST(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END AS BIGINT) AS pred
          |FROM documents ORDER BY doc_id""".stripMargin,
      "text_scrub" -> {
        // regexp_replace chain generated from the SAME PiiPatterns
        // constants the Scala operator folds over (single-backslash RE2
        // literals — DuckDB strings don't process escapes)
        val scrubbed = TextFunctions.PiiPatterns.foldLeft("text") {
          case (c, (re, repl)) => s"regexp_replace($c, '$re', '$repl', 'g')"
        }
        s"""WITH t AS (SELECT doc_id,
           |  text || ' contact user' || CAST(doc_id AS VARCHAR)
           |       || '@example.com or 555-123-4567 or (555) 987-6543 or 555 111 2222 at 10.0.0.'
           |       || CAST(doc_id % 256 AS VARCHAR) AS text
           |FROM documents)
           |SELECT doc_id, $scrubbed AS scrubbed
           |FROM t ORDER BY doc_id""".stripMargin
      },
      "text_fix_encoding" -> {
        // literal replace chain generated from the SAME MojibakeMap
        // constants; every non-ASCII char rides as chr(codepoint), so
        // neither source encoding nor JSON escaping can skew the bytes
        val fixed = TextFunctions.MojibakeMap.foldLeft("t.text") {
          case (c, (bad, good)) =>
            s"replace($c, ${sqlChrs(bad)}, ${sqlChrs(good)})"
        }
        s"""WITH t AS (SELECT doc_id,
           |  CASE WHEN doc_id % 3 = 0 THEN text || ' ' || ${sqlChrs(MojiSample)}
           |       ELSE text END AS text
           |FROM documents)
           |SELECT doc_id, $fixed AS fixed, $fixed <> t.text AS was_mojibake
           |FROM t ORDER BY doc_id""".stripMargin
      },
      "dedup_exact" ->
        """SELECT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp,
          |  min(doc_id) AS keeper_id, count(*) AS n_copies
          |FROM documents GROUP BY 1 ORDER BY fp""".stripMargin,
      "dedup_minhash_sig" ->
        s"""WITH t AS (SELECT doc_id, $sqlTokens AS ts FROM documents),
           |s AS (SELECT doc_id, ${sqlShingles(3)} AS sh FROM t),
           |h AS (SELECT doc_id, list_transform(sh, tk -> ${sqlHash("tk")}) AS hs FROM s)
           |SELECT doc_id,
           |  $mhExprs
           |FROM h ORDER BY doc_id""".stripMargin,
      "dedup_minhash_pairs" -> sqlMinhashPairs(n = 3, threshold = 0.3),
      // transitive closure of the near-dup pair graph; min reachable id =
      // component label (matches hash-min propagation exactly)
      "dedup_clusters" ->
        s"""WITH RECURSIVE ${minhashPairCtes(n = 3, threshold = 0.3)},
           |e AS (SELECT id_a AS src, id_b AS dst FROM pairs
           |      UNION ALL SELECT id_b, id_a FROM pairs),
           |reach AS (
           |  SELECT doc_id AS id, doc_id AS lab FROM documents
           |  UNION
           |  SELECT e.dst AS id, r.lab FROM reach r JOIN e ON e.src = r.id)
           |SELECT id AS doc_id, MIN(lab) AS cluster_id,
           |  (MIN(lab) = id) AS is_canonical
           |FROM reach GROUP BY id ORDER BY doc_id""".stripMargin,
      // survivor replay: the dedup_clusters closure + per-cluster
      // argmax by (n_chars DESC, doc_id) — a different winner rule
      // than the engine's max_by(id, struct(score, -id)) formulation
      "dedup_survivors" ->
        s"""WITH RECURSIVE ${minhashPairCtes(n = 3, threshold = 0.3)},
           |e AS (SELECT id_a AS src, id_b AS dst FROM pairs
           |      UNION ALL SELECT id_b, id_a FROM pairs),
           |reach AS (
           |  SELECT doc_id AS id, doc_id AS lab FROM documents
           |  UNION
           |  SELECT e.dst AS id, r.lab FROM reach r JOIN e ON e.src = r.id),
           |cl AS (SELECT id AS doc_id, MIN(lab) AS cluster_id FROM reach GROUP BY id),
           |j AS (SELECT cl.doc_id, cl.cluster_id, d.n_chars
           |  FROM cl JOIN documents d ON cl.doc_id = d.doc_id),
           |w AS (SELECT j.*, row_number() OVER (PARTITION BY cluster_id
           |    ORDER BY n_chars DESC, doc_id) AS rn FROM j)
           |SELECT doc_id, cluster_id, n_chars, (rn = 1) AS keep
           |FROM w ORDER BY doc_id""".stripMargin,
      // same md5-ordered chain construction (28-bit 0x-substr bucket =
      // the HashBucket kernel), closed by the recursive CTE — a
      // different closure algorithm than the engine's contraction
      "dedup_clusters_chain" ->
        """WITH RECURSIVE k AS (SELECT doc_id,
          |    md5('chain:' || CAST(doc_id AS VARCHAR)) AS k,
          |    CAST(concat('0x', substr(md5('chain:' || CAST(doc_id AS VARCHAR)), 1, 7)) AS BIGINT) % 5 AS g
          |  FROM documents),
          |r AS (SELECT doc_id, g, row_number() OVER (PARTITION BY g ORDER BY k, doc_id) AS rn FROM k),
          |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
          |  FROM r a JOIN r b ON a.g = b.g AND b.rn = a.rn + 1),
          |e AS (SELECT id_a AS src, id_b AS dst FROM p
          |      UNION ALL SELECT id_b, id_a FROM p),
          |reach AS (
          |  SELECT doc_id AS id, doc_id AS lab FROM documents
          |  UNION
          |  SELECT e.dst AS id, r2.lab FROM reach r2 JOIN e ON e.src = r2.id)
          |SELECT id AS doc_id, MIN(lab) AS cluster_id,
          |  (MIN(lab) = id) AS is_canonical
          |FROM reach GROUP BY id ORDER BY doc_id""".stripMargin,
      "graph_labelprop" -> {
        // unrolled synchronous rounds: same votes (neighbors + self),
        // same (count desc, label asc) argmax; MATERIALIZED because
        // each round references its predecessor twice
        val steps = (1 to 3).map { i =>
          val p = s"p${i - 1}"
          s"""v$i AS (SELECT id, lab, COUNT(*) AS c FROM (
             |    SELECT e.dst AS id, p.lab FROM e JOIN $p p ON p.id = e.src
             |    UNION ALL SELECT id, lab FROM $p)
             |  GROUP BY id, lab),
             |p$i AS MATERIALIZED (SELECT id, lab FROM (
             |    SELECT id, lab, row_number() OVER (PARTITION BY id ORDER BY c DESC, lab) AS rn
             |    FROM v$i) WHERE rn = 1)""".stripMargin
        }.mkString(",\n")
        s"""WITH e0 AS (SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
           |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
           |e AS MATERIALIZED (SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0),
           |p0 AS MATERIALIZED (SELECT id, id AS lab FROM (SELECT DISTINCT src AS id FROM e)),
           |$steps
           |SELECT id, lab AS label FROM p3 ORDER BY id""".stripMargin
      },
      // equivariance witness: the mismatch count is the closed form
      // (0 by the monotone-relabeling argument at the query site);
      // the node total is independent COUNTing of the sampled graph's
      // endpoints — no label propagation anywhere in this oracle
      "graph_labelprop_equiv" ->
        """WITH e0 AS (SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
          |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey
          |  WHERE o_custkey % 8 = 0 AND l_suppkey % 8 = 0)
          |SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes,
          |  CAST(0 AS BIGINT) AS n_mismatch
          |FROM (SELECT src AS id FROM e0 UNION SELECT dst FROM e0)""".stripMargin,
      "graph_powerlaw" ->
        """WITH e0 AS (SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
          |    FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
          |d AS (SELECT id, COUNT(*) AS deg FROM
          |    (SELECT src AS id FROM e0 UNION ALL SELECT dst AS id FROM e0)
          |  GROUP BY id),
          |bk AS (SELECT length(bin(deg)) - 1 AS b, COUNT(*) AS n_nodes
          |  FROM d GROUP BY 1),
          |ls AS (SELECT CAST(COUNT(*) AS BIGINT) AS k,
          |    CAST(SUM(b) AS BIGINT) AS sx,
          |    CAST(SUM(length(bin(n_nodes)) - 1) AS BIGINT) AS sy,
          |    CAST(SUM(b * (length(bin(n_nodes)) - 1)) AS BIGINT) AS sxy,
          |    CAST(SUM(b * b) AS BIGINT) AS sxx FROM bk)
          |SELECT CAST(b AS BIGINT) AS b, CAST(n_nodes AS BIGINT) AS n_nodes,
          |  CAST(k * sxy - sx * sy AS BIGINT) AS slope_num,
          |  CAST(k * sxx - sx * sx AS BIGINT) AS slope_den,
          |  CAST(k * sxy - sx * sy AS DOUBLE) / (k * sxx - sx * sx) AS slope
          |FROM bk, ls ORDER BY b""".stripMargin,
      "graph_pagerank" -> {
        // unrolled power iterations, same scaled-int64 floor arithmetic
        val iters = 3
        val steps = (1 to iters).map { i =>
          val p = s"p${i - 1}"
          s"""c$i AS (SELECT e.dst AS id,
             |  SUM(CAST(FLOOR(CAST(p.pr AS DOUBLE) / CAST(d.outdeg AS DOUBLE)) AS BIGINT)) AS s
             |  FROM e JOIN $p p ON p.id = e.src JOIN deg d ON d.src = e.src GROUP BY e.dst),
             |p$i AS (SELECT $p.id,
             |  CAST(150000 + FLOOR(CAST(85 * coalesce(c$i.s, 0) AS DOUBLE) / 100.0) AS BIGINT) AS pr
             |  FROM $p LEFT JOIN c$i ON c$i.id = $p.id)""".stripMargin
        }.mkString(",\n")
        s"""WITH e0 AS (SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
           |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
           |e AS (SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0),
           |deg AS (SELECT src, COUNT(*) AS outdeg FROM e GROUP BY src),
           |p0 AS (SELECT src AS id, CAST(1000000 AS BIGINT) AS pr FROM deg),
           |$steps
           |SELECT id, pr FROM p$iters ORDER BY id""".stripMargin
      },
      // planted-graph witness: the ranks are HAND-COMPUTED literals
      // (star center/leaves + invariant 3-cycle) — no edges, no
      // degrees, no power iteration in the oracle; the only data work
      // is counting the 4 leaf customers
      "graph_pagerank_witness" ->
        """WITH n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_leaves
          |  FROM customer WHERE c_custkey BETWEEN 1 AND 4)
          |SELECT v.id, v.pr, n.n_leaves
          |FROM (VALUES (CAST(0 AS BIGINT), CAST(3224875 AS BIGINT)),
          |             (1, 443781), (2, 443781), (3, 443781), (4, 443781),
          |             (10, 1000000), (11, 1000000), (12, 1000000))
          |  AS v(id, pr)
          |CROSS JOIN n ORDER BY v.id""".stripMargin,
      // independent formulation: id-ordered edges + 3-way self-join
      // (the engine orients by (degree, id) instead — same count)
      "graph_kcore" -> {
        // fixed 8-round unrolled peel (the fixture converges in 5; the
        // peel is a monotone fixpoint, so extra rounds are no-ops)
        // MATERIALIZED: each round references its predecessor several
        // times — inlined CTEs would re-expand e0 exponentially
        val rounds = (0 until 8).map { i =>
          s"""n$i AS MATERIALIZED (SELECT id FROM (SELECT a AS id FROM e$i UNION ALL SELECT b AS id FROM e$i)
             |  GROUP BY id HAVING count(*) >= 9),
             |e${i + 1} AS MATERIALIZED (SELECT e$i.a, e$i.b FROM e$i
             |  JOIN n$i x ON e$i.a = x.id JOIN n$i y ON e$i.b = y.id)""".stripMargin
        }.mkString(",\n")
        s"""WITH s AS MATERIALIZED (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem WHERE l_partkey % 8 = 0),
           |e0 AS MATERIALIZED (SELECT DISTINCT x.l_partkey AS a, y.l_partkey AS b
           |  FROM s x JOIN s y ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey),
           |$rounds
           |SELECT id, count(*) AS deg
           |FROM (SELECT a AS id FROM e8 UNION ALL SELECT b AS id FROM e8)
           |GROUP BY id HAVING count(*) >= 9 ORDER BY id""".stripMargin
      },
      "graph_linkpred" ->
        """WITH s AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem WHERE l_partkey % 8 = 0),
          |e0 AS (SELECT DISTINCT x.l_partkey AS a, y.l_partkey AS b
          |  FROM s x JOIN s y ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey),
          |adj AS (SELECT a AS v, b AS u FROM e0 UNION ALL SELECT b AS v, a AS u FROM e0),
          |deg AS (SELECT u AS id, count(*) AS deg FROM adj GROUP BY u),
          |adjc AS (SELECT adj.v, adj.u FROM adj
          |  JOIN deg ON adj.v = deg.id WHERE deg.deg <= 10000),
          |wed AS (SELECT x.u AS id_a, y.u AS id_b FROM adjc x JOIN adjc y ON x.v = y.v AND x.u < y.u),
          |cm AS (SELECT id_a, id_b, count(*) AS common_neighbors FROM wed
          |  GROUP BY id_a, id_b HAVING count(*) >= 3),
          |ne AS (SELECT cm.* FROM cm LEFT JOIN e0 ON cm.id_a = e0.a AND cm.id_b = e0.b
          |  WHERE e0.a IS NULL)
          |SELECT ne.id_a, ne.id_b, ne.common_neighbors,
          |  da.deg + db.deg - ne.common_neighbors AS union_deg,
          |  CAST(ne.common_neighbors AS DOUBLE) / (da.deg + db.deg - ne.common_neighbors) AS jaccard
          |FROM ne JOIN deg da ON ne.id_a = da.id JOIN deg db ON ne.id_b = db.id
          |ORDER BY id_a, id_b""".stripMargin,
      "graph_triangles" ->
        """WITH s AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem WHERE l_partkey % 8 = 0),
          |e AS (SELECT DISTINCT x.l_partkey AS a, y.l_partkey AS b
          |  FROM s x JOIN s y ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey)
          |SELECT CAST(count(*) AS BIGINT) AS n_triangles
          |FROM e e1 JOIN e e2 ON e2.a = e1.b JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b""".stripMargin,
      // symmetrized-Pearson replay: HUGEINT sums over the doubled
      // edge list, identical single division
      "graph_assortativity" ->
        """WITH s AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem WHERE l_partkey % 8 = 0),
          |e0 AS (SELECT DISTINCT x.l_partkey AS a, y.l_partkey AS b
          |  FROM s x JOIN s y ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey),
          |adj AS (SELECT a AS u, b AS v FROM e0 UNION ALL SELECT b AS u, a AS v FROM e0),
          |deg AS (SELECT u AS id, count(*) AS deg FROM adj GROUP BY u),
          |jk AS (SELECT da.deg AS dj, db.deg AS dk FROM adj
          |  JOIN deg da ON adj.u = da.id JOIN deg db ON adj.v = db.id),
          |agg AS (SELECT CAST(COUNT(*) AS HUGEINT) AS m2,
          |    SUM(CAST(dj AS HUGEINT) * dk) AS sjk,
          |    SUM(CAST(dj AS HUGEINT)) AS sj,
          |    SUM(CAST(dj AS HUGEINT) * dj) AS sj2 FROM jk)
          |SELECT CAST(m2 // 2 AS BIGINT) AS m_edges,
          |  CASE WHEN m2 * sj2 - sj * sj <> 0
          |    THEN CAST(m2 * sjk - sj * sj AS DOUBLE) / CAST(m2 * sj2 - sj * sj AS DOUBLE)
          |  END AS assortativity
          |FROM agg""".stripMargin,
      // per-node triangle credit proven from the plain id-ordered
      // 3-way self-join (each triangle once, credited to all 3
      // corners), coefficient = the same exact-int division
      "graph_clustcoef" ->
        """WITH s AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem WHERE l_partkey % 8 = 0),
          |e AS (SELECT DISTINCT x.l_partkey AS a, y.l_partkey AS b
          |  FROM s x JOIN s y ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey),
          |tri AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
          |  FROM e e1 JOIN e e2 ON e2.a = e1.b JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
          |corners AS (SELECT x AS id FROM tri UNION ALL SELECT y FROM tri UNION ALL SELECT z FROM tri),
          |tc AS (SELECT id, CAST(count(*) AS BIGINT) AS t FROM corners GROUP BY id),
          |adj AS (SELECT a AS id FROM e UNION ALL SELECT b AS id FROM e),
          |deg AS (SELECT id, CAST(count(*) AS BIGINT) AS deg FROM adj GROUP BY id)
          |SELECT deg.id, deg.deg, COALESCE(tc.t, 0) AS triangles,
          |  CASE WHEN deg.deg >= 2
          |    THEN CAST(COALESCE(tc.t, 0) * 2 AS DOUBLE) / CAST(deg.deg * (deg.deg - 1) AS DOUBLE)
          |    ELSE 0.0 END AS clust_coef
          |FROM deg LEFT JOIN tc ON deg.id = tc.id ORDER BY deg.id""".stripMargin,
      "text_strip_html" -> {
        // the same MarkupPatterns chain, generated with DuckDB's
        // explicit 'g' flag (Spark's regexp_replace is replace-all by
        // default; RE2 and Java agree on the inline (?is) flags)
        val wrapped =
          """'<html><head><style>p{color:red}</style></head><body><h1 class="t">Doc ' || CAST(doc_id AS VARCHAR)""" +
            """ || '</h1><p>' || text || '</p><p>A &amp; B &lt;ok&gt; &quot;q&quot; &#39;s&#39;&nbsp;end</p>'""" +
            """ || '<script>var x = 1 < 2;</script><!-- hidden --></body></html>'"""
        val chain = TextFunctions.MarkupPatterns.foldLeft(wrapped) { case (acc, (re, repl)) =>
          s"regexp_replace($acc, '${re.replace("'", "''")}', '${repl.replace("'", "''")}', 'g')"
        }
        s"""SELECT doc_id, TRIM(regexp_replace($chain, '\\s+', ' ', 'g')) AS clean
           |FROM documents ORDER BY doc_id""".stripMargin
      },
      "text_tfidf" ->
        s"""WITH t AS (SELECT doc_id, $sqlTokens AS ts FROM documents),
           |tok AS (SELECT doc_id, unnest(ts) AS token FROM t),
           |tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM tok GROUP BY doc_id, token),
           |df AS (SELECT token, COUNT(DISTINCT doc_id) AS df FROM tok GROUP BY token),
           |s AS (SELECT tf.doc_id, tf.token, CAST(tf.tf AS DOUBLE) / CAST(df.df AS DOUBLE) AS score
           |  FROM tf JOIN df USING (token)),
           |r AS (SELECT doc_id, token, score, row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, token) AS rank FROM s)
           |SELECT doc_id, CAST(rank AS BIGINT) AS rank, token, score FROM r WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin,

      // planted-corpus witness: scores are dyadic LITERALS — no
      // tokenization, tf, df, or ranking anywhere in the oracle; the
      // only data work is counting the 4 planted documents
      "text_tfidf_witness" ->
        """WITH n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs
          |  FROM documents WHERE doc_id BETWEEN 1 AND 4)
          |SELECT v.doc_id, v.rank, v.token, v.score, n.n_docs
          |FROM (VALUES
          |  (CAST(1 AS BIGINT), CAST(1 AS BIGINT), 'aa', CAST(1.5 AS DOUBLE)),
          |  (1, 2, 'bb', 0.5),
          |  (2, 1, 'bb', 1.0), (2, 2, 'aa', 0.5), (2, 3, 'cc', 0.5),
          |  (3, 1, 'cc', 0.5), (3, 2, 'dd', 0.5),
          |  (4, 1, 'dd', 1.0), (4, 2, 'ee', 1.0), (4, 3, 'ff', 1.0))
          |  AS v(doc_id, rank, token, score)
          |CROSS JOIN n ORDER BY v.doc_id, v.rank""".stripMargin,

      // BPE training replay, 5 rounds unrolled. The greedy merge fold
      // is an INDEPENDENT formulation: list_reduce with the pending
      // token carried in a chr(1)-delimited string accumulator
      // (DuckDB's reduce is homogeneous), vs the engine's typed
      // struct-accumulator aggregate — only the SPEC (pair choice
      // order, greedy left-to-right semantics, chr(2) joiner) is shared
      "text_bpe_encode" -> {
        val rounds = 5
        def fold(p: String) =
          s"""list_reduce(list_prepend(chr(1), ts), (acc, x) -> CASE
             | WHEN split_part(acc, chr(1), 2) = $p.a AND x = $p.b THEN split_part(acc, chr(1), 1) || ' ' || $p.m || chr(1)
             | WHEN split_part(acc, chr(1), 2) = '' THEN split_part(acc, chr(1), 1) || chr(1) || x
             | ELSE split_part(acc, chr(1), 1) || ' ' || split_part(acc, chr(1), 2) || chr(1) || x END)""".stripMargin
        def toList(s: String) =
          s"string_split(trim(CASE WHEN split_part($s, chr(1), 2) = '' THEN split_part($s, chr(1), 1) ELSE split_part($s, chr(1), 1) || ' ' || split_part($s, chr(1), 2) END), ' ')"
        val trainCtes = (1 to rounds).map { r =>
          val prev = s"d${r - 1}"
          s"""pc$r AS (SELECT ts[i] AS a, ts[i+1] AS b, COUNT(*) AS c
             |  FROM (SELECT unnest(range(1, len(ts))) AS i, ts FROM $prev) GROUP BY 1, 2),
             |p$r AS (SELECT a, b, a || chr(2) || b AS m, c FROM pc$r ORDER BY c DESC, a, b LIMIT 1),
             |d$r AS (SELECT doc_id, ${toList(fold(s"p$r"))} AS ts FROM $prev, p$r)""".stripMargin
        }.mkString(",\n")
        val encCtes = (1 to rounds).map { r =>
          s"o$r AS (SELECT doc_id, ${toList(fold(s"p$r"))} AS ts FROM o${r - 1}, p$r)"
        }.mkString(",\n")
        s"""WITH d0 AS (SELECT doc_id, $sqlTokens AS ts FROM documents WHERE doc_id % 2 = 0),
           |o0 AS (SELECT doc_id, $sqlTokens AS ts FROM documents WHERE doc_id % 2 = 1),
           |$trainCtes,
           |$encCtes
           |SELECT doc_id, CAST(len(ts) AS BIGINT) AS n_tokens,
           |  CAST(len(list_filter(ts, x -> contains(x, chr(2)))) AS BIGINT) AS n_merged
           |FROM o$rounds ORDER BY doc_id""".stripMargin
      },
      // the encode/decode round-trip witness asserts identities the
      // engine must earn, so the oracle carries NO BPE at all
      "text_bpe_roundtrip" ->
        """SELECT doc_id, true AS roundtrip_ok, true AS stable
          |FROM documents WHERE doc_id % 2 = 1 ORDER BY doc_id""".stripMargin,
      "text_bpe" -> {
        val rounds = 5
        def fold(p: String) =
          s"""list_reduce(list_prepend(chr(1), ts), (acc, x) -> CASE
             | WHEN split_part(acc, chr(1), 2) = $p.a AND x = $p.b THEN split_part(acc, chr(1), 1) || ' ' || $p.m || chr(1)
             | WHEN split_part(acc, chr(1), 2) = '' THEN split_part(acc, chr(1), 1) || chr(1) || x
             | ELSE split_part(acc, chr(1), 1) || ' ' || split_part(acc, chr(1), 2) || chr(1) || x END)""".stripMargin
        def toList(s: String) =
          s"string_split(trim(CASE WHEN split_part($s, chr(1), 2) = '' THEN split_part($s, chr(1), 1) ELSE split_part($s, chr(1), 1) || ' ' || split_part($s, chr(1), 2) END), ' ')"
        val ctes = (1 to rounds).map { r =>
          val prev = s"d${r - 1}"
          val rewrite =
            if (r < rounds)
              s""",
                 |d$r AS (SELECT doc_id, ${toList(fold(s"p$r"))} AS ts FROM $prev, p$r)""".stripMargin
            else ""
          s"""pc$r AS (SELECT ts[i] AS a, ts[i+1] AS b, COUNT(*) AS c
             |  FROM (SELECT unnest(range(1, len(ts))) AS i, ts FROM $prev) GROUP BY 1, 2),
             |p$r AS (SELECT a, b, a || chr(2) || b AS m, c FROM pc$r ORDER BY c DESC, a, b LIMIT 1)$rewrite""".stripMargin
        }.mkString(",\n")
        val sel = (1 to rounds).map { r =>
          if (r == 1) s"SELECT 1 AS round, a AS lhs, b AS rhs, CAST(c AS BIGINT) AS pair_count FROM p1"
          else s"SELECT $r, a, b, CAST(c AS BIGINT) FROM p$r"
        }.mkString("\nUNION ALL ")
        s"""WITH d0 AS (SELECT doc_id, $sqlTokens AS ts FROM documents),
           |$ctes
           |$sel
           |ORDER BY round""".stripMargin
      },

      // BM25 replay: same rational idf, same literal constants, same
      // left-to-right expression tree and fixed-order pivot sum — every
      // double op is identical, so scores are bit-exact
      "text_bm25" ->
        s"""WITH t AS (SELECT doc_id, $sqlTokens AS ts FROM documents),
           |tok AS (SELECT doc_id, CAST(len(ts) AS BIGINT) AS dl, unnest(ts) AS token FROM t),
           |st AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(SUM(len(ts)) AS BIGINT) AS sumdl FROM t),
           |tf AS (SELECT doc_id, dl, token, COUNT(*) AS tf FROM tok
           |  WHERE token IN ('spark','merge','window') GROUP BY doc_id, dl, token),
           |dfq AS (SELECT token, COUNT(DISTINCT doc_id) AS df FROM tok
           |  WHERE token IN ('spark','merge','window') GROUP BY token),
           |sc AS (SELECT tf.doc_id, tf.token,
           |  (CAST(2*st.n - 2*dfq.df + 1 AS DOUBLE) / CAST(2*dfq.df + 1 AS DOUBLE)) *
           |  ((CAST(tf.tf AS DOUBLE) * 2.2) / (CAST(tf.tf AS DOUBLE) + 1.2 * (0.25 + 0.75 *
           |    (CAST(tf.dl AS DOUBLE) / (CAST(st.sumdl AS DOUBLE) / CAST(st.n AS DOUBLE)))))) AS s
           |  FROM tf, dfq, st WHERE dfq.token = tf.token),
           |p AS (SELECT doc_id,
           |  coalesce(MAX(CASE WHEN token = 'spark' THEN s END), 0.0)
           |  + coalesce(MAX(CASE WHEN token = 'merge' THEN s END), 0.0)
           |  + coalesce(MAX(CASE WHEN token = 'window' THEN s END), 0.0) AS score
           |  FROM sc GROUP BY doc_id)
           |SELECT doc_id, score FROM p ORDER BY score DESC, doc_id LIMIT 20""".stripMargin,
      // ranking-eval replay: same per-term bm25 chain with tf kept,
      // same tf-threshold labels, the SAME integer weight table
      // (ndcgWeights — shared spec constant), row_number ranks with
      // identical tie order
      "text_eval_rank" -> {
        val w = graft.functions.TextFunctions.ndcgWeights(10).mkString("[", ", ", "]")
        s"""WITH t AS (SELECT doc_id, $sqlTokens AS ts FROM documents),
           |tok AS (SELECT doc_id, CAST(len(ts) AS BIGINT) AS dl, unnest(ts) AS token FROM t),
           |st AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(SUM(len(ts)) AS BIGINT) AS sumdl FROM t),
           |tf AS (SELECT doc_id, dl, token, COUNT(*) AS tf FROM tok
           |  WHERE token IN ('spark','merge','window') GROUP BY doc_id, dl, token),
           |dfq AS (SELECT token, COUNT(DISTINCT doc_id) AS df FROM tok
           |  WHERE token IN ('spark','merge','window') GROUP BY token),
           |cand AS (SELECT tf.doc_id, tf.token AS term, tf.tf,
           |  (CAST(2*st.n - 2*dfq.df + 1 AS DOUBLE) / CAST(2*dfq.df + 1 AS DOUBLE)) *
           |  ((CAST(tf.tf AS DOUBLE) * 2.2) / (CAST(tf.tf AS DOUBLE) + 1.2 * (0.25 + 0.75 *
           |    (CAST(tf.dl AS DOUBLE) / (CAST(st.sumdl AS DOUBLE) / CAST(st.n AS DOUBLE)))))) AS s,
           |  CASE WHEN tf.tf >= 3 THEN 2 ELSE 1 END AS rel,
           |  CASE WHEN tf.tf >= 3 THEN 3 ELSE 1 END AS gain
           |  FROM tf, dfq, st WHERE dfq.token = tf.token),
           |act AS (SELECT term, gain, rel,
           |    row_number() OVER (PARTITION BY term ORDER BY s DESC, doc_id) AS rank FROM cand),
           |ide AS (SELECT term, gain,
           |    row_number() OVER (PARTITION BY term ORDER BY rel DESC, doc_id) AS rank FROM cand),
           |d AS (SELECT term, CAST(SUM(gain * ($w)[rank]) AS BIGINT) AS dcg_q,
           |    MIN(CASE WHEN rel = 2 THEN rank END) AS best
           |  FROM act WHERE rank <= 10 GROUP BY term),
           |i AS (SELECT term, CAST(SUM(gain * ($w)[rank]) AS BIGINT) AS idcg_q
           |  FROM ide WHERE rank <= 10 GROUP BY term),
           |nc AS (SELECT term, COUNT(*) AS n_cands FROM cand GROUP BY term)
           |SELECT nc.term, nc.n_cands, d.dcg_q, i.idcg_q,
           |  CAST(d.dcg_q AS DOUBLE) / i.idcg_q AS ndcg,
           |  CAST(coalesce(d.best, -1) AS BIGINT) AS best_rank
           |FROM nc JOIN d ON nc.term = d.term JOIN i ON nc.term = i.term
           |ORDER BY nc.term""".stripMargin
      },

      // RRF fusion of the bm25 ranking (CTE chain above) with the
      // quality ranking (sqlQuality replay) — both ranked
      // (score desc, doc_id), fused 1/(60+rank) terms in fixed order
      "text_rrf" ->
        s"""WITH t AS (SELECT doc_id, text, $sqlTokens AS ts FROM documents),
           |tok AS (SELECT doc_id, CAST(len(ts) AS BIGINT) AS dl, unnest(ts) AS token FROM t),
           |st AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(SUM(len(ts)) AS BIGINT) AS sumdl FROM t),
           |tf AS (SELECT doc_id, dl, token, COUNT(*) AS tf FROM tok
           |  WHERE token IN ('spark','merge','window') GROUP BY doc_id, dl, token),
           |dfq AS (SELECT token, COUNT(DISTINCT doc_id) AS df FROM tok
           |  WHERE token IN ('spark','merge','window') GROUP BY token),
           |sc AS (SELECT tf.doc_id, tf.token,
           |  (CAST(2*st.n - 2*dfq.df + 1 AS DOUBLE) / CAST(2*dfq.df + 1 AS DOUBLE)) *
           |  ((CAST(tf.tf AS DOUBLE) * 2.2) / (CAST(tf.tf AS DOUBLE) + 1.2 * (0.25 + 0.75 *
           |    (CAST(tf.dl AS DOUBLE) / (CAST(st.sumdl AS DOUBLE) / CAST(st.n AS DOUBLE)))))) AS s
           |  FROM tf, dfq, st WHERE dfq.token = tf.token),
           |p AS (SELECT doc_id,
           |  coalesce(MAX(CASE WHEN token = 'spark' THEN s END), 0.0)
           |  + coalesce(MAX(CASE WHEN token = 'merge' THEN s END), 0.0)
           |  + coalesce(MAX(CASE WHEN token = 'window' THEN s END), 0.0) AS score
           |  FROM sc GROUP BY doc_id),
           |ra AS (SELECT doc_id, rank_a FROM (SELECT doc_id,
           |    row_number() OVER (ORDER BY score DESC, doc_id) AS rank_a FROM p)
           |  WHERE rank_a <= 50),
           |q AS (SELECT doc_id, $sqlQuality AS score FROM t),
           |rb AS (SELECT doc_id, rank_b FROM (SELECT doc_id,
           |    row_number() OVER (ORDER BY score DESC, doc_id) AS rank_b FROM q)
           |  WHERE rank_b <= 50)
           |SELECT coalesce(ra.doc_id, rb.doc_id) AS doc_id,
           |  coalesce(1.0 / (60 + rank_a), 0.0) + coalesce(1.0 / (60 + rank_b), 0.0) AS rrf,
           |  rank_a, rank_b
           |FROM ra FULL OUTER JOIN rb ON ra.doc_id = rb.doc_id
           |ORDER BY rrf DESC, doc_id LIMIT 20""".stripMargin,

      // duplicated-span replay: same 5-gram instances (NON-distinct,
      // unlike the minhash shingle fragment), same 48-bit md5 hash
      // symmetric pair instances via a lateral offset table (both
      // directions), PMI as a sum of length(bin())-1 floor-logs
      "text_cooccur" ->
        s"""WITH t AS (SELECT doc_id, $sqlTokens AS ts FROM documents),
           |fwd AS (SELECT unnest(ts[1:len(ts)-d]) AS w1, unnest(ts[1+d:len(ts)]) AS w2
           |        FROM t, range(1, 3) AS r(d)),
           |inst AS (SELECT w1, w2 FROM fwd UNION ALL SELECT w2, w1 FROM fwd),
           |cc AS (SELECT w1, w2, COUNT(*) AS c12 FROM inst GROUP BY w1, w2),
           |marg AS (SELECT w1, CAST(SUM(c12) AS BIGINT) AS m FROM cc GROUP BY w1),
           |tot AS (SELECT CAST(SUM(c12) AS BIGINT) AS n FROM cc)
           |SELECT cc.w1, cc.w2, cc.c12,
           |  (length(bin(cc.c12)) - 1) + (length(bin(tot.n)) - 1)
           |    - (length(bin(m1.m)) - 1) - (length(bin(m2.m)) - 1) AS pmi_q
           |FROM cc JOIN marg m1 ON m1.w1 = cc.w1
           |        JOIN marg m2 ON m2.w1 = cc.w2, tot
           |WHERE cc.c12 >= 5 AND cc.w1 <= cc.w2
           |ORDER BY cc.w1, cc.w2""".stripMargin,
      // quantized log2 via length(bin(n))-1 — exact integer/string
      // arithmetic in both engines, no libm ln in the compare
      "text_lm_score" ->
        s"""WITH t AS (SELECT doc_id, $sqlTokens AS ts FROM documents),
           |inst AS (SELECT doc_id, unnest(ts[1:len(ts)-1]) AS w1, unnest(ts[2:len(ts)]) AS w2 FROM t),
           |c2 AS (SELECT w1, w2, COUNT(*) AS c2 FROM inst GROUP BY w1, w2),
           |c1 AS (SELECT w1, CAST(SUM(c2) AS BIGINT) AS c1 FROM c2 GROUP BY w1),
           |lp AS (SELECT doc_id,
           |  (length(bin(c2.c2)) - 1) - (length(bin(c1.c1)) - 1) AS lp
           |  FROM inst JOIN c2 USING (w1, w2) JOIN c1 USING (w1))
           |SELECT doc_id, COUNT(*) AS n_bigrams,
           |  CAST(-SUM(lp) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS lm_bits
           |FROM lp GROUP BY doc_id ORDER BY doc_id""".stripMargin,
      // same 8-token line synthesis, then the C4 keep-first rule: the
      // keeper of a line hash is its minimum (doc_id, pos) instance —
      // row_number over that total order replays the engine's min-
      // struct window exactly
      "dedup_lines" ->
        s"""WITH t AS (SELECT doc_id, $sqlTokens AS ts FROM documents),
           |ln AS (SELECT doc_id, list_transform(range(1, CAST(ceil(len(ts)/8.0) AS BIGINT) + 1),
           |  i -> array_to_string(ts[((i-1)*8+1):(i*8)], ' ')) AS lines FROM t),
           |inst AS (SELECT doc_id, unnest(lines) AS line, unnest(range(1, len(lines)+1)) AS pos FROM ln),
           |k AS (SELECT doc_id, pos, line,
           |  (row_number() OVER (PARTITION BY CAST(concat('0x', substr(md5(line),1,12)) AS BIGINT)
           |                      ORDER BY doc_id, pos)) = 1 AS keep FROM inst)
           |SELECT doc_id, COUNT(*) AS n_lines,
           |  CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           |  string_agg(CASE WHEN keep THEN line END, chr(10) ORDER BY pos) AS text_clean
           |FROM k GROUP BY doc_id ORDER BY doc_id""".stripMargin,
      "dedup_spans" ->
        s"""WITH t AS (SELECT doc_id, $sqlTokens AS ts FROM documents),
           |sh AS (SELECT doc_id, list_transform(range(1, greatest(len(ts)-4,0)+1),
           |  i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] || ' ' || ts[i+3] || ' ' || ts[i+4]) AS sps FROM t),
           |i0 AS (SELECT doc_id, unnest(sps) AS sp FROM sh),
           |inst AS (SELECT doc_id, CAST(concat('0x', substr(md5(sp),1,12)) AS BIGINT) AS h FROM i0),
           |shared AS (SELECT h FROM (SELECT h, COUNT(DISTINCT doc_id) AS d FROM inst GROUP BY h) WHERE d >= 2),
           |tot AS (SELECT doc_id, COUNT(*) AS n_spans FROM inst GROUP BY doc_id),
           |dup AS (SELECT doc_id, COUNT(*) AS n_dup FROM inst WHERE h IN (SELECT h FROM shared) GROUP BY doc_id)
           |SELECT tot.doc_id, tot.n_spans, CAST(coalesce(dup.n_dup, 0) AS BIGINT) AS n_dup,
           |  CAST(coalesce(dup.n_dup, 0) AS DOUBLE) / CAST(tot.n_spans AS DOUBLE) AS dup_frac
           |FROM tot LEFT JOIN dup ON dup.doc_id = tot.doc_id ORDER BY tot.doc_id""".stripMargin,
      "dedup_span_removal" ->
        s"""WITH t AS (SELECT doc_id, $sqlTokens AS ts FROM documents),
           |sh AS (SELECT doc_id, ts, unnest(range(1, greatest(len(ts)-4,0)+1)) AS p FROM t),
           |inst AS (SELECT doc_id, p, CAST(concat('0x', substr(md5(ts[p] || ' ' || ts[p+1] || ' ' || ts[p+2] || ' ' || ts[p+3] || ' ' || ts[p+4]),1,12)) AS BIGINT) AS h FROM sh),
           |shared AS (SELECT h FROM (SELECT h, COUNT(DISTINCT doc_id) AS d FROM inst GROUP BY h) WHERE d >= 2),
           |cov AS (SELECT DISTINCT doc_id, p + k AS ci FROM inst, unnest(range(0, 5)) AS u(k) WHERE h IN (SELECT h FROM shared)),
           |covl AS (SELECT doc_id, list(ci) AS cl FROM cov GROUP BY doc_id),
           |o AS (SELECT t.doc_id, ts, coalesce(cl, []) AS cl FROM t LEFT JOIN covl ON covl.doc_id = t.doc_id)
           |SELECT doc_id, CAST(len(ts) AS BIGINT) AS n_tokens, CAST(len(cl) AS BIGINT) AS n_removed,
           |  CASE WHEN len(cl) = len(ts) THEN NULL
           |    ELSE array_to_string(list_transform(list_filter(range(1, len(ts)+1), i -> NOT list_contains(cl, i)), i -> ts[i]), ' ') END AS text_clean
           |FROM o ORDER BY doc_id""".stripMargin,
      "text_encode" ->
        s"""WITH t AS (SELECT doc_id, $sqlTokens AS ts FROM documents),
           |c2 AS (SELECT token, COUNT(*) AS c FROM (SELECT unnest(ts) AS token FROM t) GROUP BY token),
           |vocab AS (SELECT token, row_number() OVER (ORDER BY c DESC, token) AS id FROM c2 ORDER BY c DESC, token LIMIT 100),
           |ip AS (SELECT doc_id, unnest(ts) AS token, unnest(range(1, len(ts)+1)) AS pos FROM t)
           |SELECT ip.doc_id, CAST(ip.pos AS BIGINT) AS pos, CAST(coalesce(v.id, 0) AS BIGINT) AS token_id
           |FROM ip LEFT JOIN vocab v ON v.token = ip.token
           |ORDER BY doc_id, pos""".stripMargin,
      "sample_split_safe" ->
        s"""WITH RECURSIVE ${minhashPairCtes(n = 3, threshold = 0.3)},
           |e AS (SELECT id_a AS src, id_b AS dst FROM pairs
           |      UNION ALL SELECT id_b, id_a FROM pairs),
           |reach AS (
           |  SELECT doc_id AS id, doc_id AS lab FROM documents
           |  UNION
           |  SELECT e.dst AS id, r.lab FROM reach r JOIN e ON e.src = r.id)
           |SELECT id AS doc_id, MIN(lab) AS cluster_id,
           |  CASE WHEN CAST(concat('0x', substr(md5(CAST(MIN(lab) AS VARCHAR) || ':0'), 1, 7)) AS BIGINT) % 100 < 80
           |       THEN 'train' ELSE 'test' END AS split
           |FROM reach GROUP BY id ORDER BY doc_id""".stripMargin,
      "dedup_simhash" ->
        s"""WITH t AS (SELECT doc_id, $sqlTokens AS ts FROM documents),
           |h AS (SELECT doc_id, list_transform(list_distinct(ts), tk -> ${sqlHash("tk")}) AS hs FROM t)
           |SELECT doc_id, $simhashTerms AS simhash
           |FROM h ORDER BY doc_id""".stripMargin,
      "dedup_ngram_pairs" -> sqlMinhashPairs(n = 2, threshold = 0.5),
      "decontam_ngram" ->
        s"""WITH t AS (SELECT doc_id, $sqlTokens AS ts FROM documents),
           |s AS (SELECT doc_id, ${sqlShingles(3)} AS sh FROM t),
           |ev AS (SELECT DISTINCT unnest(sh) AS g FROM s WHERE doc_id % 2 = 0),
           |tr AS (SELECT doc_id, unnest(sh) AS g FROM s WHERE doc_id % 2 = 1)
           |SELECT tr.doc_id, CAST(count(*) AS BIGINT) AS matched_ngrams
           |FROM tr JOIN ev USING (g)
           |GROUP BY tr.doc_id ORDER BY tr.doc_id""".stripMargin,
      // cross-set form: pairs over the FULL corpus restricted to
      // (corpus id < 250) × (incoming id >= 250) — band-key collision is
      // a pairwise relation, so full-set LSH pairs restricted to the
      // split equal the between-set candidates the operator generates
      "dedup_incremental" ->
        s"""WITH ${minhashPairCtes(n = 3, threshold = 0.3)},
           |x AS (SELECT id_b AS doc_id, MIN(id_a) AS dup_of FROM pairs
           |      WHERE id_a < 250 AND id_b >= 250 GROUP BY id_b)
           |SELECT d.doc_id, x.dup_of IS NOT NULL AS is_dup, x.dup_of
           |FROM (SELECT doc_id FROM documents WHERE doc_id >= 250) d
           |LEFT JOIN x USING (doc_id)
           |ORDER BY doc_id""".stripMargin,
      // identical oracle to dedup_bloom — the streaming face must land
      // on exactly the batch answer (stateless predicate ⇒ no
      // batch/stream semantic gap to account for)
      "stream_bloom_novel" -> {
        val mBits = 1024; val k = 5
        def p(i: Int) =
          s"(CAST(concat('0x', substr(md5(concat('$i:', text)), 1, 7)) AS BIGINT) % $mBits)"
        val plist = (0 until k).map(p).mkString("[", ", ", "]")
        s"""WITH pos AS (SELECT DISTINCT unnest($plist) AS p
           |  FROM documents WHERE doc_id % 2 = 0),
           |ip AS (SELECT doc_id, unnest($plist) AS p
           |  FROM documents WHERE doc_id % 2 = 1),
           |novel AS (SELECT DISTINCT ip.doc_id FROM ip
           |  LEFT JOIN pos ON pos.p = ip.p WHERE pos.p IS NULL)
           |SELECT doc_id FROM novel ORDER BY doc_id""".stripMargin
      },
      "dedup_containment" ->
        s"""WITH ${minhashCandCtes(n = 3)},
           |cont AS (SELECT id_a, id_b,
           |  CAST(len(list_intersect(ha.hsd, hb.hsd)) AS DOUBLE) / CAST(len(ha.hsd) AS DOUBLE) AS cont_a,
           |  CAST(len(list_intersect(ha.hsd, hb.hsd)) AS DOUBLE) / CAST(len(hb.hsd) AS DOUBLE) AS cont_b
           |FROM cand JOIN hd ha ON ha.doc_id = id_a JOIN hd hb ON hb.doc_id = id_b)
           |SELECT id_a, id_b, cont_a, cont_b FROM cont
           |WHERE greatest(cont_a, cont_b) >= 0.5 ORDER BY id_a, id_b""".stripMargin,
      // relational replay of the bloom: the corpus's DISTINCT set bit
      // positions, then an incoming row is "definitely novel" iff at
      // least one of its k salted positions is missing from that set —
      // same membership math as the bitmap, no bitmap
      "dedup_bloom" -> {
        val mBits = 1024; val k = 5
        def p(i: Int) =
          s"(CAST(concat('0x', substr(md5(concat('$i:', text)), 1, 7)) AS BIGINT) % $mBits)"
        val plist = (0 until k).map(p).mkString("[", ", ", "]")
        s"""WITH pos AS (SELECT DISTINCT unnest($plist) AS p
           |  FROM documents WHERE doc_id % 2 = 0),
           |ip AS (SELECT doc_id, unnest($plist) AS p
           |  FROM documents WHERE doc_id % 2 = 1),
           |novel AS (SELECT DISTINCT ip.doc_id FROM ip
           |  LEFT JOIN pos ON pos.p = ip.p WHERE pos.p IS NULL)
           |SELECT doc_id FROM novel ORDER BY doc_id""".stripMargin
      },
      "inc_upsert" ->
        """WITH base AS (SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders),
          |chg AS (
          |  SELECT o_orderkey, o_orderstatus, o_totalprice * CAST(1.1 AS DOUBLE) AS o_totalprice
          |  FROM base WHERE o_orderkey % 7 = 0
          |  UNION ALL
          |  SELECT o_orderkey + 20000000 AS o_orderkey, 'N' AS o_orderstatus, o_totalprice
          |  FROM base WHERE o_orderkey % 1000 = 0)
          |SELECT o_orderkey, o_orderstatus, o_totalprice FROM (
          |  SELECT b.* FROM base b ANTI JOIN chg c ON b.o_orderkey = c.o_orderkey
          |  UNION ALL SELECT * FROM chg)
          |ORDER BY o_orderkey""".stripMargin,
      "inc_upsert_evolve" ->
        """WITH base AS (SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders),
          |chg AS (
          |  SELECT o_orderkey, o_orderstatus,
          |    o_totalprice * CAST(1.1 AS DOUBLE) AS o_totalprice,
          |    'crawl-' || CAST(o_orderkey % 3 AS VARCHAR) AS crawl_tag
          |  FROM base WHERE o_orderkey % 7 = 0)
          |SELECT o_orderkey, o_orderstatus, o_totalprice, crawl_tag FROM (
          |  SELECT b.*, CAST(NULL AS VARCHAR) AS crawl_tag
          |  FROM base b ANTI JOIN chg c ON b.o_orderkey = c.o_orderkey
          |  UNION ALL SELECT * FROM chg)
          |ORDER BY o_orderkey""".stripMargin,
      // independent five-way set formulation of the SCD2 merge (the
      // engine explodes per-row version arrays in one broadcast pass)
      "inc_forget" ->
        """WITH delc AS (SELECT c_custkey FROM customer WHERE c_custkey % 19 = 0),
          |delo AS (SELECT o_orderkey FROM orders
          |  WHERE o_custkey IN (SELECT c_custkey FROM delc)),
          |dell AS (SELECT l_orderkey FROM lineitem
          |  WHERE l_orderkey IN (SELECT o_orderkey FROM delo))
          |SELECT * FROM (
          |  SELECT 'customer' AS table_name,
          |    (SELECT COUNT(*) FROM customer) AS rows_before,
          |    (SELECT COUNT(*) FROM delc) AS rows_deleted,
          |    (SELECT COUNT(*) FROM customer) - (SELECT COUNT(*) FROM delc) AS rows_after
          |  UNION ALL
          |  SELECT 'orders', (SELECT COUNT(*) FROM orders),
          |    (SELECT COUNT(*) FROM delo),
          |    (SELECT COUNT(*) FROM orders) - (SELECT COUNT(*) FROM delo)
          |  UNION ALL
          |  SELECT 'lineitem', (SELECT COUNT(*) FROM lineitem),
          |    (SELECT COUNT(*) FROM dell),
          |    (SELECT COUNT(*) FROM lineitem) - (SELECT COUNT(*) FROM dell)
          |) ORDER BY table_name""".stripMargin,
      "inc_scd2_lookup" ->
        """WITH dim AS (
          |  SELECT c_custkey, c_mktsegment AS segment,
          |    TIMESTAMP '1995-01-01 00:00:00' AS valid_from,
          |    CAST(NULL AS TIMESTAMP) AS valid_to
          |  FROM customer
          |  UNION ALL
          |  SELECT c_custkey, 'OLD', TIMESTAMP '1990-01-01 00:00:00',
          |    TIMESTAMP '1995-01-01 00:00:00'
          |  FROM customer WHERE c_custkey % 11 = 0)
          |SELECT o_orderkey, c_custkey, segment
          |FROM orders JOIN dim ON o_custkey = c_custkey
          |  AND valid_from <= o_orderdate
          |  AND (valid_to IS NULL OR o_orderdate < valid_to)
          |ORDER BY o_orderkey""".stripMargin,
      "inc_scd2" ->
        """WITH dim AS (
          |  SELECT c_custkey, c_mktsegment AS segment,
          |    TIMESTAMP '1995-01-01' AS valid_from, CAST(NULL AS TIMESTAMP) AS valid_to,
          |    TRUE AS is_current FROM customer
          |  UNION ALL
          |  SELECT c_custkey, 'OLD', TIMESTAMP '1990-01-01', TIMESTAMP '1995-01-01', FALSE
          |  FROM customer WHERE c_custkey % 11 = 0),
          |chg AS (
          |  SELECT c_custkey,
          |    CASE WHEN c_custkey % 10 = 0 THEN c_mktsegment
          |         ELSE 'SEG_' || CAST(c_custkey % 3 AS VARCHAR) END AS segment
          |  FROM customer WHERE c_custkey % 5 = 0
          |  UNION ALL
          |  SELECT c_custkey + 1000000, 'NEWSEG' FROM customer WHERE c_custkey % 97 = 0)
          |SELECT * FROM (
          |  SELECT * FROM dim WHERE NOT is_current
          |  UNION ALL
          |  SELECT d.* FROM dim d LEFT JOIN chg c USING (c_custkey)
          |  WHERE d.is_current AND (c.c_custkey IS NULL OR c.segment IS NOT DISTINCT FROM d.segment)
          |  UNION ALL
          |  SELECT d.c_custkey, d.segment, d.valid_from, TIMESTAMP '2024-06-01', FALSE
          |  FROM dim d JOIN chg c USING (c_custkey)
          |  WHERE d.is_current AND c.segment IS DISTINCT FROM d.segment
          |  UNION ALL
          |  SELECT d.c_custkey, c.segment, TIMESTAMP '2024-06-01', CAST(NULL AS TIMESTAMP), TRUE
          |  FROM dim d JOIN chg c USING (c_custkey)
          |  WHERE d.is_current AND c.segment IS DISTINCT FROM d.segment
          |  UNION ALL
          |  SELECT c.c_custkey, c.segment, TIMESTAMP '2024-06-01', CAST(NULL AS TIMESTAMP), TRUE
          |  FROM chg c WHERE NOT EXISTS (
          |    SELECT 1 FROM dim d WHERE d.c_custkey = c.c_custkey AND d.is_current))
          |ORDER BY c_custkey, valid_from""".stripMargin,
      "inc_cdc" ->
        """WITH base AS (SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders),
          |chg AS (
          |  SELECT o_orderkey, o_orderstatus, o_totalprice * CAST(1.1 AS DOUBLE) AS o_totalprice, 'U' AS op
          |  FROM base WHERE o_orderkey % 7 = 0
          |  UNION ALL
          |  SELECT o_orderkey + 20000000, 'N', o_totalprice, 'I' FROM base WHERE o_orderkey % 1000 = 0
          |  UNION ALL
          |  SELECT o_orderkey, o_orderstatus, o_totalprice, 'D'
          |  FROM base WHERE o_orderkey % 97 = 0 AND o_orderkey % 7 <> 0)
          |SELECT o_orderkey, o_orderstatus, o_totalprice FROM (
          |  SELECT b.* FROM base b ANTI JOIN chg c ON b.o_orderkey = c.o_orderkey
          |  UNION ALL
          |  SELECT o_orderkey, o_orderstatus, o_totalprice FROM chg WHERE op <> 'D')
          |ORDER BY o_orderkey""".stripMargin,
      // INDEPENDENT formulation: the oracle recomputes the rollup from
      // ALL facts in one pass; the engine folds a maintained aggregate
      // with a batch. Agreement proves the incremental fold is exact.
      "inc_agg_refresh" ->
        """SELECT o_orderstatus, COUNT(*) AS n,
          |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
          |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
      // from-scratch closure over the UNION graph (old chains + new
      // links) — a different algorithm AND a different decomposition
      // than the engine's prev-labels-then-merge route
      "inc_clusters" ->
        """WITH RECURSIVE k AS (SELECT doc_id,
          |    md5('inc:' || CAST(doc_id AS VARCHAR)) AS k,
          |    CAST(concat('0x', substr(md5('inc:' || CAST(doc_id AS VARCHAR)), 1, 7)) AS BIGINT) % 5 AS g
          |  FROM documents WHERE doc_id % 5 <> 0),
          |r AS (SELECT doc_id, g, row_number() OVER (PARTITION BY g ORDER BY k, doc_id) AS rn FROM k),
          |oldp AS (SELECT a.doc_id AS s, b.doc_id AS d
          |  FROM r a JOIN r b ON a.g = b.g AND b.rn = a.rn + 1),
          |newp AS (
          |  SELECT n.doc_id AS s, n.doc_id - 1 AS d FROM documents n
          |  WHERE n.doc_id % 5 = 0
          |    AND EXISTS (SELECT 1 FROM documents o WHERE o.doc_id = n.doc_id - 1)
          |  UNION ALL
          |  SELECT n.doc_id, n.doc_id - 5 FROM documents n
          |  WHERE n.doc_id % 5 = 0
          |    AND EXISTS (SELECT 1 FROM documents o WHERE o.doc_id = n.doc_id - 5)),
          |e AS (SELECT s AS src, d AS dst FROM oldp UNION ALL SELECT d, s FROM oldp
          |      UNION ALL SELECT s, d FROM newp UNION ALL SELECT d, s FROM newp),
          |reach AS (
          |  SELECT doc_id AS id, doc_id AS lab FROM documents
          |  UNION
          |  SELECT e.dst AS id, r2.lab FROM reach r2 JOIN e ON e.src = r2.id)
          |SELECT id AS doc_id, MIN(lab) AS cluster_id
          |FROM reach GROUP BY id ORDER BY doc_id""".stripMargin,
      "inc_diff" ->
        """WITH base AS (SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders),
          |chg AS (
          |  SELECT o_orderkey, o_orderstatus, o_totalprice * CAST(1.1 AS DOUBLE) AS o_totalprice, 'U' AS op
          |  FROM base WHERE o_orderkey % 7 = 0
          |  UNION ALL
          |  SELECT o_orderkey + 20000000, 'N', o_totalprice, 'I' FROM base WHERE o_orderkey % 1000 = 0
          |  UNION ALL
          |  SELECT o_orderkey, o_orderstatus, o_totalprice, 'D'
          |  FROM base WHERE o_orderkey % 97 = 0 AND o_orderkey % 7 <> 0),
          |aft AS (
          |  SELECT b.o_orderkey, b.o_orderstatus, b.o_totalprice
          |  FROM base b ANTI JOIN chg c ON b.o_orderkey = c.o_orderkey
          |  UNION ALL
          |  SELECT o_orderkey, o_orderstatus, o_totalprice FROM chg WHERE op <> 'D'),
          |d AS (
          |  SELECT COALESCE(a.o_orderkey, b.o_orderkey) AS o_orderkey,
          |    CASE WHEN a.o_orderkey IS NOT NULL THEN a.o_orderstatus ELSE b.o_orderstatus END AS o_orderstatus,
          |    CASE WHEN a.o_orderkey IS NOT NULL THEN a.o_totalprice ELSE b.o_totalprice END AS o_totalprice,
          |    CASE WHEN b.o_orderkey IS NULL THEN 'I' WHEN a.o_orderkey IS NULL THEN 'D'
          |         WHEN NOT (a.o_orderstatus IS NOT DISTINCT FROM b.o_orderstatus
          |                   AND a.o_totalprice IS NOT DISTINCT FROM b.o_totalprice) THEN 'U'
          |    END AS op
          |  FROM base b FULL JOIN aft a ON b.o_orderkey = a.o_orderkey)
          |SELECT o_orderkey, o_orderstatus, o_totalprice, op FROM d
          |WHERE op IS NOT NULL ORDER BY o_orderkey""".stripMargin,
      "lay_zorder" -> {
        val zTerms = (0 until 8).flatMap(i => Seq(
          s"(((CAST(p_size AS BIGINT) >> $i) & 1) << ${2 * i})",
          s"(((CAST(p_partkey % 256 AS BIGINT) >> $i) & 1) << ${2 * i + 1})")).mkString(" + ")
        s"""SELECT p_partkey, p_size, $zTerms AS z
           |FROM part ORDER BY z, p_partkey LIMIT 200""".stripMargin
      },
      "lay_hilbert" ->
        s"""WITH p0 AS (SELECT p_partkey, p_size FROM part),
           |${hilbertSqlCtes("p0", "p_size", "p_partkey % 256", 8)}
           |SELECT p_partkey, p_size, hd AS h FROM h8 ORDER BY h, p_partkey LIMIT 200""".stripMargin,
      "pipe_contrastive" ->
        s"""WITH ${minhashPairCtes(3, 0.3)},
           |npos AS (SELECT doc_id,
           |    row_number() OVER (ORDER BY md5('42' || chr(1) || CAST(doc_id AS VARCHAR)), doc_id) - 1 AS p,
           |    count(*) OVER () AS cnt
           |  FROM documents),
           |nwalk AS (SELECT doc_id, i, (p + 1 + (42 + i * 2654435761) % (cnt - 1)) % cnt AS tp
           |  FROM npos, range(1, 3) AS r(i)),
           |neg AS (SELECT a.doc_id, a.i, b.doc_id AS neg_id
           |  FROM nwalk a JOIN npos b ON a.tp = b.p)
           |SELECT pr.id_a AS anchor, pr.id_b AS positive,
           |  CAST(n.i AS BIGINT) AS neg_rank, n.neg_id
           |FROM pairs pr JOIN neg n ON pr.id_a = n.doc_id
           |WHERE n.neg_id <> pr.id_b
           |ORDER BY anchor, positive, neg_rank""".stripMargin,
      "sample_negatives" ->
        """WITH pos AS (SELECT doc_id,
          |    row_number() OVER (ORDER BY md5('42' || chr(1) || CAST(doc_id AS VARCHAR)), doc_id) - 1 AS p,
          |    count(*) OVER () AS n
          |  FROM documents),
          |pairs AS (SELECT doc_id, i, (p + 1 + (42 + i * 2654435761) % (n - 1)) % n AS tp
          |  FROM pos, range(1, 4) AS r(i))
          |SELECT a.doc_id, CAST(a.i AS BIGINT) AS neg_rank, b.doc_id AS neg_id
          |FROM pairs a JOIN pos b ON a.tp = b.p
          |ORDER BY a.doc_id, neg_rank""".stripMargin,
      // same md5(seed \x01 id) key recomputed independently — the point
      // of an md5 (not xxhash) shuffle key is exactly this cross-engine
      // reproducibility of the training order
      "lay_shuffle" ->
        """SELECT doc_id, source,
          |  CAST(row_number() OVER (
          |    ORDER BY md5('42' || chr(1) || CAST(doc_id AS VARCHAR)), doc_id) - 1
          |    AS BIGINT) AS shuffle_pos
          |FROM documents""".stripMargin,
      "dedup_simhash_pairs" ->
        s"""WITH t AS (SELECT doc_id, $sqlTokens AS ts FROM documents),
           |h AS (SELECT doc_id, list_transform(list_distinct(ts), tk -> ${sqlHash("tk")}) AS hs FROM t),
           |sig AS (SELECT doc_id, $simhashTerms AS simhash FROM h),
           |bands AS ($simhashBandSelects),
           |cand AS (SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b,
           |    x.simhash AS sh_a, y.simhash AS sh_b
           |  FROM bands x JOIN bands y ON x.band = y.band AND x.bkey = y.bkey AND x.doc_id < y.doc_id)
           |SELECT id_a, id_b, CAST(bit_count(xor(sh_a, sh_b)) AS BIGINT) AS hamming
           |FROM cand WHERE bit_count(xor(sh_a, sh_b)) <= 3
           |ORDER BY id_a, id_b""".stripMargin,
      "dedup_embedding" ->
        // autoBits replay: cells = ceil(n/256), bits = bit-length of
        // cells−1 (= integer ceil-log2, clamped to [1,62] — identical to
        // Similarity.autoBits); plane i sits at bit i in the packed key,
        // so masking a 16-bit-wide key to the low `bits` bits IS the
        // bits-plane bucket (16 covers corpora to ~16M rows at target 256)
        s"""WITH nb AS (SELECT LEAST(62, GREATEST(1,
           |    LENGTH(bin(CAST(GREATEST(1, (COUNT(*) + 255) // 256) - 1 AS BIGINT))))) AS bits
           |  FROM embeddings),
           |b AS (SELECT vec_id, embedding,
           |    (${sqlLshBucket("embedding", 64, 16)}) %
           |      (CAST(1 AS BIGINT) << (SELECT bits FROM nb)) AS bkey FROM embeddings)
           |SELECT a.vec_id AS id_a, c.vec_id AS id_b, ${sqlCos("a.embedding", "c.embedding")} AS cos
           |FROM b a JOIN b c ON a.bkey = c.bkey AND a.vec_id < c.vec_id
           |WHERE ${sqlCos("a.embedding", "c.embedding")} >= 0.3
           |ORDER BY id_a, id_b""".stripMargin,

      "dedup_prefix_pairs" -> sqlPrefixPairs,
      // the wave-partitioned execution computes the IDENTICAL pair set
      // (candidate space partitioned exactly by shared prefix token),
      // so the chunked operator answers to the same oracle — that
      // identity is the point being certified
      "dedup_prefix_chunked" -> sqlPrefixPairs,
      "dedup_pr_audit" -> sqlPrAudit,
      "dedup_semantic" -> {
        s"""WITH q0 AS (SELECT vec_id, CAST(label AS BIGINT) AS cluster, embedding,
           |    list_transform(embedding, x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1048576.0) AS BIGINT)) AS qv FROM embeddings),
           |cents AS ${sqlCentSelect("q0", "cluster", "cluster")},
           |wc AS (SELECT q0.vec_id, q0.cluster, q0.embedding, ${sqlCos("q0.embedding", "cents.cv")} AS cos_centroid
           |  FROM q0 JOIN cents ON q0.cluster = cents.cluster),
           |drp AS (SELECT DISTINCT b.vec_id FROM wc a JOIN wc b ON a.cluster = b.cluster
           |  AND (a.cos_centroid < b.cos_centroid OR (a.cos_centroid = b.cos_centroid AND a.vec_id < b.vec_id))
           |  AND ${sqlCos("a.embedding", "b.embedding")} >= 0.25)
           |SELECT w.vec_id, w.cluster, w.cos_centroid, (d.vec_id IS NULL) AS kept
           |FROM wc w LEFT JOIN drp d ON w.vec_id = d.vec_id ORDER BY w.vec_id""".stripMargin
      },
      "dedup_semantic_trained" -> {
        // kmeans replay (the sim_ivf_trained CTE vocabulary) feeding the
        // dedup_semantic chain: clusters = 2-round Lloyd's assignment,
        // centroids recomputed from member vectors per semanticDedup
        val kmQv = "list_transform(embedding, x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1048576.0) AS BIGINT))"
        val kmDist = "list_sum(list_transform(list_zip(qv, cv), p -> (p[1] - p[2]) * (p[1] - p[2])))"
        s"""WITH q0 AS (SELECT vec_id, embedding, $kmQv AS qv FROM embeddings),
           |c0 AS (SELECT CAST(vec_id AS BIGINT) AS cid, qv AS cv FROM q0 WHERE vec_id < 4),
           |j1 AS (SELECT vec_id, qv, cid, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY $kmDist, cid) AS rn FROM q0 CROSS JOIN c0),
           |w1 AS (SELECT vec_id, qv, cid FROM j1 WHERE rn = 1),
           |c1 AS ${sqlCentSelect("w1", "cid", "cid")},
           |j2 AS (SELECT vec_id, qv, cid, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY $kmDist, cid) AS rn FROM q0 CROSS JOIN c1),
           |w2 AS (SELECT vec_id, cid FROM j2 WHERE rn = 1),
           |m AS (SELECT q0.vec_id, w2.cid AS cluster, q0.embedding, q0.qv FROM q0 JOIN w2 ON w2.vec_id = q0.vec_id),
           |cents AS ${sqlCentSelect("m", "cluster", "cluster")},
           |wc AS (SELECT m.vec_id, m.cluster, m.embedding, ${sqlCos("m.embedding", "cents.cv")} AS cos_centroid
           |  FROM m JOIN cents ON m.cluster = cents.cluster),
           |drp AS (SELECT DISTINCT b.vec_id FROM wc a JOIN wc b ON a.cluster = b.cluster
           |  AND (a.cos_centroid < b.cos_centroid OR (a.cos_centroid = b.cos_centroid AND a.vec_id < b.vec_id))
           |  AND ${sqlCos("a.embedding", "b.embedding")} >= 0.25)
           |SELECT w.vec_id, w.cluster, w.cos_centroid, (d.vec_id IS NULL) AS kept
           |FROM wc w LEFT JOIN drp d ON w.vec_id = d.vec_id ORDER BY w.vec_id""".stripMargin
      },

      "sim_bruteforce" ->
        s"""WITH q AS (SELECT vec_id AS q_id, embedding AS qv FROM embeddings WHERE vec_id < 10),
           |c AS (SELECT vec_id AS c_id, embedding AS cv FROM embeddings),
           |scored AS (SELECT q_id, c_id, ${sqlCos("qv", "cv")} AS cos FROM q JOIN c ON q_id <> c_id),
           |r AS (SELECT q_id, c_id, cos, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id) AS rank FROM scored)
           |SELECT q_id, CAST(rank AS BIGINT) AS rank, c_id, cos FROM r WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin,
      "sim_ivf" ->
        s"""WITH q AS (SELECT vec_id AS q_id, label AS q_blk, embedding AS qv FROM embeddings WHERE vec_id < 10),
           |c AS (SELECT vec_id AS c_id, label AS c_blk, embedding AS cv FROM embeddings),
           |scored AS (SELECT q_id, c_id, ${sqlCos("qv", "cv")} AS cos FROM q JOIN c ON q_blk = c_blk AND q_id <> c_id),
           |r AS (SELECT q_id, c_id, cos, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id) AS rank FROM scored)
           |SELECT q_id, CAST(rank AS BIGINT) AS rank, c_id, cos FROM r WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin,
      // mutual-kNN replay: (block, shard)-local exact cosine ranking —
      // shards = ceil(n/2048), the autoCells integer formula, md5
      // bucket per id (1 shard at the gate sf, so the subdivide is an
      // exact no-op here while the formula still replays) — top-5 both
      // directions, edge kept iff both ranks exist
      "sim_mutual_knn" ->
        s"""WITH ns AS (SELECT GREATEST(1, (COUNT(*) + 2047) // 2048) AS shards FROM embeddings),
           |a AS (SELECT vec_id AS q_id, label AS blk,
           |    ${sqlHash("CAST(vec_id AS VARCHAR)")} % (SELECT shards FROM ns) AS sh,
           |    embedding AS qv FROM embeddings),
           |sc AS (SELECT x.q_id, y.q_id AS c_id, ${sqlCos("x.qv", "y.qv")} AS cos
           |  FROM a x JOIN a y ON x.blk = y.blk AND x.sh = y.sh AND x.q_id <> y.q_id),
           |r AS (SELECT q_id, c_id, cos,
           |    row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id) AS rank
           |  FROM sc WHERE cos IS NOT NULL),
           |t AS (SELECT q_id, c_id, cos, rank FROM r WHERE rank <= 5)
           |SELECT f.q_id AS id_a, f.c_id AS id_b, f.cos,
           |  CAST(f.rank AS BIGINT) AS rank_ab, CAST(g.rank AS BIGINT) AS rank_ba
           |FROM t f JOIN t g ON f.q_id = g.c_id AND f.c_id = g.q_id
           |WHERE f.q_id < f.c_id ORDER BY id_a, id_b""".stripMargin,
      // margin-mining replay: the same quantized-neighborhood-mass
      // arithmetic — cq = FLOOR(cos·2^20), per-endpoint top-4 sums as
      // exact int64, margin = one truncating integral division (DuckDB
      // // and Spark DIV both truncate toward zero; both operands are
      // positive by the cq>0 / mass>0 guards), argmax ties to lower y_id
      "sim_margin_mining" ->
        s"""WITH x AS (SELECT vec_id AS x_id, embedding AS xv FROM embeddings WHERE vec_id % 2 = 0 AND vec_id < 200),
           |y AS (SELECT vec_id AS y_id, embedding AS yv FROM embeddings WHERE vec_id % 2 = 1),
           |s AS (SELECT x_id, y_id, ${sqlCos("xv", "yv")} AS cos FROM x CROSS JOIN y),
           |sq AS (SELECT x_id, y_id, cos, CAST(FLOOR(cos * 1048576.0) AS BIGINT) AS cq,
           |    row_number() OVER (PARTITION BY x_id ORDER BY cos DESC, y_id) AS rx,
           |    row_number() OVER (PARTITION BY y_id ORDER BY cos DESC, x_id) AS ry FROM s),
           |mx AS (SELECT x_id, CAST(SUM(cq) AS BIGINT) AS sx FROM sq WHERE rx <= 4 GROUP BY x_id),
           |my AS (SELECT y_id, CAST(SUM(cq) AS BIGINT) AS sy FROM sq WHERE ry <= 4 GROUP BY y_id),
           |cand AS (SELECT q.x_id, q.y_id, q.cos, (8000000 * q.cq) // (mx.sx + my.sy) AS margin_micro
           |  FROM sq q JOIN mx ON q.x_id = mx.x_id JOIN my ON q.y_id = my.y_id
           |  WHERE q.rx <= 4 AND q.cq > 0 AND mx.sx + my.sy > 0),
           |best AS (SELECT cand.*, row_number() OVER (PARTITION BY x_id
           |    ORDER BY margin_micro DESC, y_id) AS rn FROM cand)
           |SELECT x_id, y_id, cos, margin_micro FROM best
           |WHERE rn = 1 AND margin_micro >= 1000000 ORDER BY x_id""".stripMargin,
      "sim_centroid_classify" -> {
        // per-label quantized centroid fit + nearest-centroid argmin —
        // the kmeans CTE vocabulary with labels as the (fixed) cells
        val kmQv = "list_transform(embedding, x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1048576.0) AS BIGINT))"
        val kmDist = "list_sum(list_transform(list_zip(qv, cv), p -> (p[1] - p[2]) * (p[1] - p[2])))"
        s"""WITH q0 AS (SELECT vec_id, CAST(label AS BIGINT) AS lbl, $kmQv AS qv FROM embeddings),
           |cents AS ${sqlCentSelect("q0", "lbl", "cid")},
           |j AS (SELECT vec_id, lbl, cid, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY $kmDist, cid) AS rn
           |  FROM q0 CROSS JOIN cents),
           |w AS (SELECT vec_id, lbl, cid FROM j WHERE rn = 1)
           |SELECT lbl AS label, cid AS predicted, COUNT(*) AS n
           |FROM w GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
      },
      "sim_ivf_trained" -> {
        // the same 2 Lloyd's iterations, in SQL: quantize → assign(c0) →
        // recompute → assign(c1) → IVF search within learned partition
        val kmQv = "list_transform(embedding, x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1048576.0) AS BIGINT))"
        val kmDist = "list_sum(list_transform(list_zip(qv, cv), p -> (p[1] - p[2]) * (p[1] - p[2])))"
        s"""WITH q0 AS (SELECT vec_id, embedding, $kmQv AS qv FROM embeddings),
           |c0 AS (SELECT CAST(vec_id AS BIGINT) AS cid, qv AS cv FROM q0 WHERE vec_id < 4),
           |j1 AS (SELECT vec_id, qv, cid, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY $kmDist, cid) AS rn FROM q0 CROSS JOIN c0),
           |w1 AS (SELECT vec_id, qv, cid FROM j1 WHERE rn = 1),
           |c1 AS ${sqlCentSelect("w1", "cid", "cid")},
           |j2 AS (SELECT vec_id, qv, cid, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY $kmDist, cid) AS rn FROM q0 CROSS JOIN c1),
           |w2 AS (SELECT vec_id, cid FROM j2 WHERE rn = 1),
           |e AS (SELECT em.vec_id, em.embedding, w2.cid FROM embeddings em JOIN w2 ON em.vec_id = w2.vec_id),
           |q AS (SELECT vec_id AS q_id, cid AS q_blk, embedding AS qv2 FROM e WHERE vec_id < 10),
           |c AS (SELECT vec_id AS c_id, cid AS c_blk, embedding AS cv2 FROM e),
           |scored AS (SELECT q_id, c_id, ${sqlCos("qv2", "cv2")} AS cos FROM q JOIN c ON q_blk = c_blk AND q_id <> c_id),
           |r AS (SELECT q_id, c_id, cos, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id) AS rank FROM scored)
           |SELECT q_id, CAST(rank AS BIGINT) AS rank, c_id, cos FROM r WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin
      },
      "sim_lsh" ->
        s"""WITH b AS (SELECT vec_id, embedding, ${sqlLshBucket("embedding", 64, 8)} AS bucket FROM embeddings),
           |q AS (SELECT vec_id AS q_id, embedding AS qv, bucket FROM b WHERE vec_id < 10),
           |c AS (SELECT vec_id AS c_id, embedding AS cv, bucket FROM b),
           |scored AS (SELECT q_id, c_id, ${sqlCos("qv", "cv")} AS cos
           |  FROM q JOIN c ON q.bucket = c.bucket AND q_id <> c_id),
           |r AS (SELECT q_id, c_id, cos, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id) AS rank FROM scored)
           |SELECT q_id, CAST(rank AS BIGINT) AS rank, c_id, cos FROM r WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin,

      "sim_recall_audit" ->
        s"""WITH b AS (SELECT vec_id, embedding, ${sqlLshBucket("embedding", 64, 8)} AS bucket FROM embeddings),
           |lq AS (SELECT vec_id AS q_id, embedding AS qv, bucket FROM b WHERE vec_id < 10),
           |lc AS (SELECT vec_id AS c_id, embedding AS cv, bucket FROM b),
           |ls AS (SELECT q_id, c_id, ${sqlCos("qv", "cv")} AS cos FROM lq JOIN lc ON lq.bucket = lc.bucket AND q_id <> c_id),
           |lr AS (SELECT q_id, c_id, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id) AS rank FROM ls),
           |ap AS (SELECT q_id, c_id FROM lr WHERE rank <= 5),
           |bq AS (SELECT vec_id AS q_id, embedding AS qv FROM embeddings WHERE vec_id < 10),
           |bc AS (SELECT vec_id AS c_id, embedding AS cv FROM embeddings),
           |bs AS (SELECT q_id, c_id, ${sqlCos("qv", "cv")} AS cos FROM bq JOIN bc ON q_id <> c_id),
           |br AS (SELECT q_id, c_id, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id) AS rank FROM bs),
           |ex AS (SELECT q_id, c_id FROM br WHERE rank <= 5),
           |hits AS (SELECT ex.q_id, COUNT(*) AS hits FROM ex JOIN ap ON ex.q_id = ap.q_id AND ex.c_id = ap.c_id GROUP BY 1),
           |kk AS (SELECT q_id, COUNT(*) AS k FROM ex GROUP BY 1)
           |SELECT kk.q_id, kk.k, COALESCE(hits.hits, 0) AS hits,
           |  CAST(COALESCE(hits.hits, 0) AS DOUBLE) / kk.k AS recall
           |FROM kk LEFT JOIN hits ON kk.q_id = hits.q_id ORDER BY kk.q_id""".stripMargin,

      "sim_ivf_probe" -> {
        // same Lloyd's replay as sim_ivf_trained, plus the probe ranking:
        // queries take rn <= 2 cells from the SAME j2 ranking whose rn = 1
        // row is the corpus assignment — probing replays the exact
        // geometry that defined the cells
        val kmQv = "list_transform(embedding, x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1048576.0) AS BIGINT))"
        val kmDist = "list_sum(list_transform(list_zip(qv, cv), p -> (p[1] - p[2]) * (p[1] - p[2])))"
        s"""WITH q0 AS (SELECT vec_id, embedding, $kmQv AS qv FROM embeddings),
           |c0 AS (SELECT CAST(vec_id AS BIGINT) AS cid, qv AS cv FROM q0 WHERE vec_id < 4),
           |j1 AS (SELECT vec_id, qv, cid, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY $kmDist, cid) AS rn FROM q0 CROSS JOIN c0),
           |w1 AS (SELECT vec_id, qv, cid FROM j1 WHERE rn = 1),
           |c1 AS ${sqlCentSelect("w1", "cid", "cid")},
           |j2 AS (SELECT vec_id, qv, cid, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY $kmDist, cid) AS rn FROM q0 CROSS JOIN c1),
           |w2 AS (SELECT vec_id, cid FROM j2 WHERE rn = 1),
           |wp AS (SELECT vec_id, cid FROM j2 WHERE rn <= 2),
           |e AS (SELECT em.vec_id, em.embedding, w2.cid FROM embeddings em JOIN w2 ON em.vec_id = w2.vec_id),
           |q AS (SELECT e0.vec_id AS q_id, wp.cid AS q_blk, e0.embedding AS qv2
           |  FROM embeddings e0 JOIN wp ON e0.vec_id = wp.vec_id WHERE e0.vec_id < 10),
           |c AS (SELECT vec_id AS c_id, cid AS c_blk, embedding AS cv2 FROM e),
           |scored AS (SELECT q_id, c_id, ${sqlCos("qv2", "cv2")} AS cos FROM q JOIN c ON q_blk = c_blk AND q_id <> c_id),
           |r AS (SELECT q_id, c_id, cos, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id) AS rank FROM scored)
           |SELECT q_id, CAST(rank AS BIGINT) AS rank, c_id, cos FROM r WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin
      },

      "sim_index_persist" ->
        s"""WITH ${pqSqlCtes(m = 4, sub = 16, ksub = 16)}
           |SELECT q_id, CAST(rank AS BIGINT) AS rank, c_id, CAST(adist AS BIGINT) AS adist FROM r WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin,
      "sim_pq" ->
        s"""WITH ${pqSqlCtes(m = 4, sub = 16, ksub = 16)}
           |SELECT q_id, CAST(rank AS BIGINT) AS rank, c_id, CAST(adist AS BIGINT) AS adist FROM r WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin,
      // append replay: the same PQ chain with TRAINING (init + Lloyd's
      // rounds) restricted to the base corpus while encoding and the
      // ADC scan run over all vectors — append-without-retrain answers
      // must equal encode-everything-with-the-base-model
      "sim_index_append" ->
        s"""WITH ${pqSqlCtes(m = 4, sub = 16, ksub = 16, trainWhere = "vec_id % 3 != 0")}
           |SELECT q_id, CAST(rank AS BIGINT) AS rank, c_id, CAST(adist AS BIGINT) AS adist FROM r WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin,
      "sim_pq_refined" ->
        s"""WITH ${pqSqlCtes(m = 4, sub = 16, ksub = 16)},
           |shortlist AS (SELECT q_id, c_id FROM r WHERE rank <= 40),
           |rr AS (SELECT s.q_id, s.c_id, ${sqlCos("qe.embedding", "ce.embedding")} AS cos
           |  FROM shortlist s JOIN embeddings qe ON qe.vec_id = s.q_id
           |  JOIN embeddings ce ON ce.vec_id = s.c_id),
           |r2 AS (SELECT q_id, c_id, cos, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id) AS rank FROM rr)
           |SELECT q_id, CAST(rank AS BIGINT) AS rank, c_id, cos FROM r2 WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin,
      "sim_lsh_probe" -> {
        val masks = (0L +: (0 until 8).map(i => 1L << i)).mkString("[", ", ", "]")
        s"""WITH b AS (SELECT vec_id, embedding, ${sqlLshBucket("embedding", 64, 8)} AS bucket FROM embeddings),
           |q AS (SELECT vec_id AS q_id, embedding AS qv, xor(bucket, m) AS bucket
           |  FROM b, unnest($masks) AS t(m) WHERE vec_id < 10),
           |c AS (SELECT vec_id AS c_id, embedding AS cv, bucket FROM b),
           |scored AS (SELECT q_id, c_id, ${sqlCos("qv", "cv")} AS cos
           |  FROM q JOIN c ON q.bucket = c.bucket AND q_id <> c_id),
           |r AS (SELECT q_id, c_id, cos, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id) AS rank FROM scored)
           |SELECT q_id, CAST(rank AS BIGINT) AS rank, c_id, cos FROM r WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin
      },

      "mm_decode_meta" ->
        """SELECT doc_id AS media_id,
          |  CAST((doc_id % 16 + 1) * 8 AS BIGINT) AS width,
          |  CAST((doc_id % 8 + 1) * 8 AS BIGINT) AS height,
          |  CAST(1 AS BIGINT) AS channels
          |FROM documents ORDER BY media_id""".stripMargin,
      "mm_image_stats" ->
        """WITH g AS (SELECT doc_id AS media_id, doc_id % 31 + 1 AS w, doc_id % 17 + 1 AS h FROM documents),
          |px AS (SELECT media_id, w, h, (media_id * 131 + x * 31 + y * 17) % 256 AS v
          |  FROM g, unnest(range(0, w)) AS tx(x), unnest(range(0, h)) AS ty(y))
          |SELECT media_id, CAST(w * h AS BIGINT) AS n_pixels,
          |  CAST(SUM(v) AS BIGINT) AS sum_lum,
          |  CAST(SUM(v) AS DOUBLE) / (w * h) AS mean_lum
          |FROM px GROUP BY media_id, w, h ORDER BY media_id""".stripMargin,
      "mm_decode_png" ->
        """SELECT doc_id AS media_id,
          |  CAST(doc_id % 31 + 1 AS BIGINT) AS width,
          |  CAST(doc_id % 17 + 1 AS BIGINT) AS height,
          |  CAST(3 AS BIGINT) AS channels
          |FROM documents ORDER BY media_id""".stripMargin,
      "mm_decode_wav" ->
        """SELECT doc_id AS media_id,
          |  CAST(8000 AS BIGINT) AS sample_rate,
          |  CAST(doc_id % 2 + 1 AS BIGINT) AS channels,
          |  CAST(doc_id % 200 + 1 AS BIGINT) AS n_frames
          |FROM documents ORDER BY media_id""".stripMargin,
      // duration_sec is one IEEE-754 double division of two small exact
      // integers — bit-identical in any engine
      "mm_decode_mp4" ->
        """SELECT doc_id AS media_id,
          |  CAST(doc_id % 900 + 100 AS BIGINT) AS timescale,
          |  CAST(doc_id % 100000 + 1 AS BIGINT) AS duration,
          |  CAST(doc_id % 100000 + 1 AS DOUBLE) / CAST(doc_id % 900 + 100 AS DOUBLE)
          |    AS duration_sec
          |FROM documents ORDER BY media_id""".stripMargin,
      // mean_luma is exact: solid 8-aligned grayscale frames roundtrip
      // JPEG bit-identically (single DC coefficient, quantizer 1), so
      // the decoded mean is the synthesized value (id*131 + f*31) % 256
      "mm_frames" ->
        """SELECT doc_id AS media_id, CAST(f AS BIGINT) AS frame_idx,
          |  CAST((doc_id % 4 + 1) * 8 AS BIGINT) AS width,
          |  CAST((doc_id % 3 + 1) * 8 AS BIGINT) AS height,
          |  CAST((doc_id * 131 + f * 31) % 256 AS DOUBLE) AS mean_luma
          |FROM documents, unnest(range(0, doc_id % 3 + 1)) AS u(f)
          |ORDER BY media_id, frame_idx""".stripMargin,
      "mm_frame_offsets" ->
        """SELECT doc_id AS media_id, CAST(f AS BIGINT) AS frame_idx,
          |  CAST(f * 1024 AS BIGINT) AS byte_offset
          |FROM documents, unnest(range(0, CASE WHEN octet_length(encode(text)) <= 0 THEN 0
          |  ELSE ((octet_length(encode(text)) - 1) // 1024) + 1 END)) AS u(f)
          |ORDER BY media_id, frame_idx""".stripMargin,
      // strided-sample dHash is a closed-form function of (base, w, h):
      // px(r,c) = (base + ((c*w)//8)*31 + ((r*h)//8)*17) % 256, bit
      // r*7+c set iff px(r,c) > px(r,c+1) — recomputed exactly in SQL
      "mm_dhash" ->
        """WITH g AS (SELECT doc_id, (doc_id % 60) * 131 + (doc_id // 60) % 4 + (doc_id // 1000000000) * 97 AS base,
          |    (doc_id % 60) % 24 + 9 AS w, (doc_id % 60) % 16 + 9 AS h FROM documents),
          |bits AS (SELECT doc_id,
          |    CASE WHEN (base + ((c * w) // 8) * 31 + ((r * h) // 8) * 17) % 256 >
          |              (base + (((c + 1) * w) // 8) * 31 + ((r * h) // 8) * 17) % 256
          |         THEN (CAST(1 AS BIGINT) << CAST(r * 7 + c AS INT)) ELSE 0 END AS bit
          |  FROM g, unnest(range(0, 8)) AS tr(r), unnest(range(0, 7)) AS tc(c))
          |SELECT doc_id AS media_id, CAST(SUM(bit) AS BIGINT) AS dhash
          |FROM bits GROUP BY doc_id ORDER BY media_id""".stripMargin,
      "mm_dhash_pairs" ->
        """WITH g AS (SELECT doc_id, (doc_id % 60) * 131 + (doc_id // 60) % 4 + (doc_id // 1000000000) * 97 AS base,
          |    (doc_id % 60) % 24 + 9 AS w, (doc_id % 60) % 16 + 9 AS h FROM documents),
          |bits AS (SELECT doc_id,
          |    CASE WHEN (base + ((c * w) // 8) * 31 + ((r * h) // 8) * 17) % 256 >
          |              (base + (((c + 1) * w) // 8) * 31 + ((r * h) // 8) * 17) % 256
          |         THEN (CAST(1 AS BIGINT) << CAST(r * 7 + c AS INT)) ELSE 0 END AS bit
          |  FROM g, unnest(range(0, 8)) AS tr(r), unnest(range(0, 7)) AS tc(c)),
          |dh AS (SELECT doc_id, CAST(SUM(bit) AS BIGINT) AS dhash FROM bits GROUP BY doc_id)
          |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
          |  CAST(bit_count(xor(a.dhash, b.dhash)) AS BIGINT) AS hamming
          |FROM dh a JOIN dh b ON a.doc_id < b.doc_id
          |WHERE bit_count(xor(a.dhash, b.dhash)) <= 3
          |ORDER BY id_a, id_b""".stripMargin,
      "mm_scene" ->
        """WITH fr AS (SELECT doc_id AS media_id, f AS frame_idx,
          |    CAST((doc_id * 131 + f * 31) % 256 AS DOUBLE) AS mean_luma
          |  FROM documents, unnest(range(0, doc_id % 3 + 1)) AS u(f)),
          |d AS (SELECT media_id, frame_idx, mean_luma,
          |    ABS(mean_luma - lag(mean_luma) OVER (PARTITION BY media_id ORDER BY frame_idx)) AS luma_diff
          |  FROM fr)
          |SELECT media_id, CAST(frame_idx AS BIGINT) AS frame_idx, mean_luma,
          |  luma_diff, COALESCE(luma_diff > 100.0, FALSE) AS is_cut
          |FROM d ORDER BY media_id, frame_idx""".stripMargin,
      "mm_dhash_clusters" ->
        """WITH RECURSIVE g AS (SELECT doc_id, (doc_id % 60) * 131 + (doc_id // 60) % 4 + (doc_id // 1000000000) * 97 AS base,
          |    (doc_id % 60) % 24 + 9 AS w, (doc_id % 60) % 16 + 9 AS h FROM documents),
          |bits AS (SELECT doc_id,
          |    CASE WHEN (base + ((c * w) // 8) * 31 + ((r * h) // 8) * 17) % 256 >
          |              (base + (((c + 1) * w) // 8) * 31 + ((r * h) // 8) * 17) % 256
          |         THEN (CAST(1 AS BIGINT) << CAST(r * 7 + c AS INT)) ELSE 0 END AS bit
          |  FROM g, unnest(range(0, 8)) AS tr(r), unnest(range(0, 7)) AS tc(c)),
          |dh AS (SELECT doc_id, CAST(SUM(bit) AS BIGINT) AS dhash FROM bits GROUP BY doc_id),
          |pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
          |  FROM dh a JOIN dh b ON a.doc_id < b.doc_id
          |  WHERE bit_count(xor(a.dhash, b.dhash)) <= 3),
          |e AS (SELECT id_a AS src, id_b AS dst FROM pairs
          |      UNION ALL SELECT id_b, id_a FROM pairs),
          |reach AS (
          |  SELECT doc_id AS id, doc_id AS lab FROM documents
          |  UNION
          |  SELECT e.dst AS id, r.lab FROM reach r JOIN e ON e.src = r.id)
          |SELECT id AS media_id, MIN(lab) AS cluster_id,
          |  (MIN(lab) = id) AS is_canonical
          |FROM reach GROUP BY id ORDER BY media_id""".stripMargin,
      "mm_tiles" ->
        """WITH m AS (SELECT doc_id AS media_id,
          |    CAST(doc_id % 150 + 1 AS BIGINT) AS w,
          |    CAST(doc_id % 40 + 1 AS BIGINT) AS h FROM documents)
          |SELECT media_id, tx, ty, tx * 64 AS x0, ty * 16 AS y0,
          |  LEAST(64, w - tx * 64) AS tile_w, LEAST(16, h - ty * 16) AS tile_h
          |FROM m, unnest(range(0, (w - 1) // 64 + 1)) AS ux(tx),
          |  unnest(range(0, (h - 1) // 16 + 1)) AS uy(ty)
          |ORDER BY media_id, tx, ty""".stripMargin,
      // PCM sample sums are a pure function of (id, frame, channel):
      // v = (id*131 + f*31 + c*17) % 65536 - 32768, signed 16-bit LE
      "mm_audio_stats" ->
        """WITH g AS (SELECT doc_id AS media_id, doc_id % 200 + 1 AS nf,
          |    doc_id % 2 + 1 AS ch FROM documents),
          |sm AS (SELECT media_id, nf, ch,
          |    (media_id * 131 + f * 31 + c * 17) % 65536 - 32768 AS v
          |  FROM g, unnest(range(0, nf)) AS tf(f), unnest(range(0, ch)) AS tc(c))
          |SELECT media_id, CAST(nf * ch AS BIGINT) AS n_samples,
          |  CAST(SUM(v) AS BIGINT) AS sum_amp, CAST(SUM(ABS(v)) AS BIGINT) AS sum_abs
          |FROM sm GROUP BY media_id, nf, ch ORDER BY media_id""".stripMargin,
      "mm_resize" ->
        """WITH m AS (SELECT doc_id AS media_id,
          |  CAST(doc_id % 300 + 1 AS BIGINT) AS width,
          |  CAST(doc_id % 40 + 1 AS BIGINT) AS height
          |FROM documents)
          |SELECT media_id, width, height,
          |  CAST(FLOOR(width * LEAST(224.0 / width, 224.0 / height, 1.0)) AS BIGINT) AS out_w,
          |  CAST(FLOOR(height * LEAST(224.0 / width, 224.0 / height, 1.0)) AS BIGINT) AS out_h
          |FROM m ORDER BY media_id""".stripMargin,
      // byte-level stats are oracle-able because the fixture text is pure
      // ASCII (verified): UTF-8 bytes == character codes.
      "mm_features" ->
        """WITH t AS (SELECT doc_id AS media_id, text, octet_length(encode(text)) AS nb FROM documents),
          |c AS (SELECT media_id, nb,
          |  list_transform(range(1, nb + 1), i -> ascii(substr(text, CAST(i AS INT), 1))) AS codes FROM t)
          |SELECT media_id, CAST(nb AS BIGINT) AS n_bytes,
          |  CAST(COALESCE(list_sum(codes), 0) AS DOUBLE) / greatest(nb, 1) AS byte_mean,
          |  CAST(COALESCE(list_sum(list_transform(codes, x -> x * x)), 0) AS DOUBLE) / greatest(nb, 1) AS byte_mom2
          |FROM c ORDER BY media_id""".stripMargin,

      "ev_tumbling" ->
        """SELECT make_timestamp((epoch_us(ts) // 300000000) * 300000000) AS window_start,
          |  event_type, COUNT(*) AS n,
          |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
          |FROM events GROUP BY 1, 2 ORDER BY window_start, event_type""".stripMargin,
      "ev_hopping" ->
        """SELECT make_timestamp((epoch_us(ts) // 300000000 - u.k) * 300000000) AS window_start,
          |  event_type, COUNT(*) AS n,
          |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
          |FROM events, unnest(range(0, 2)) AS u(k)
          |GROUP BY 1, 2 ORDER BY window_start, event_type""".stripMargin,
      "ev_sessions" ->
        """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS us, value FROM events),
          |g AS (SELECT *, CASE WHEN lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id) IS NULL
          |       OR us - lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id) > 1800000000
          |       THEN 1 ELSE 0 END AS new_session FROM e),
          |s AS (SELECT *, SUM(new_session) OVER (PARTITION BY user_id ORDER BY us, event_id ROWS UNBOUNDED PRECEDING) AS session_id FROM g)
          |SELECT user_id, CAST(session_id AS BIGINT) AS session_id, COUNT(*) AS n_events,
          |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
          |  MIN(us) AS start_us, MAX(us) AS end_us
          |FROM s GROUP BY user_id, session_id ORDER BY user_id, session_id""".stripMargin,

      "sql_kernels" ->
        s"""WITH t AS (SELECT doc_id, text, $sqlTokens AS ts FROM documents),
           |h AS (SELECT doc_id, text, ts, list_transform(list_distinct(ts), tk -> ${sqlHash("tk")}) AS hs FROM t)
           |SELECT doc_id, $simhashTerms AS simhash,
           |  CAST(len(${sqlShingles(3)}) AS INT) AS n_shingles,
           |  md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp
           |FROM h ORDER BY doc_id""".stripMargin,
      "sql_curation" -> {
        val scrubbed = TextFunctions.PiiPatterns.foldLeft(
          "(text || ' reach me: a.b@c.io / 555-123-4567')") {
          case (c, (re, repl)) => s"regexp_replace($c, '$re', '$repl', 'g')"
        }
        s"""SELECT doc_id, $scrubbed AS scrubbed,
           |  CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)),1,7)) AS BIGINT) % 100 AS bucket,
           |  CAST(len($sqlTokens) AS BIGINT) AS n_tokens
           |FROM documents ORDER BY doc_id""".stripMargin
      },
      // streaming queries: bounded input + event-time semantics ⇒ the
      // batch SQL over the same parquet is the exact oracle
      "stream_tumbling" ->
        """SELECT make_timestamp((epoch_us(ts) // 300000000) * 300000000) AS window_start,
          |  event_type, COUNT(*) AS n,
          |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
          |FROM events GROUP BY 1, 2 ORDER BY window_start, event_type""".stripMargin,
      "stream_window_users" ->
        """SELECT make_timestamp((epoch_us(ts) // 300000000) * 300000000) AS window_start,
          |  COUNT(DISTINCT user_id) AS n_users
          |FROM events GROUP BY 1 ORDER BY window_start""".stripMargin,
      "stream_dedup" ->
        """SELECT DISTINCT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
          |FROM documents ORDER BY fp""".stripMargin,
      "stream_topk" ->
        """SELECT user_id, COUNT(*) AS n FROM events
          |GROUP BY user_id ORDER BY n DESC, user_id LIMIT 20""".stripMargin,
      "stream_interval_join" ->
        """WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS us, event_type FROM events)
          |SELECT l.event_id AS event_id_l, r.event_id AS event_id_r
          |FROM e l JOIN e r ON l.user_id = r.user_id
          |  AND l.event_type = 'view' AND r.event_type = 'purchase'
          |  AND r.us >= l.us AND r.us <= l.us + 600000000
          |ORDER BY event_id_l, event_id_r""".stripMargin,
      "stream_interval_left" ->
        """WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS us, event_type FROM events),
          |v AS (SELECT * FROM e WHERE event_type = 'view'),
          |p AS (SELECT * FROM e WHERE event_type = 'purchase')
          |SELECT v.event_id AS event_id_l, p.event_id AS event_id_r
          |FROM v LEFT JOIN p ON v.user_id = p.user_id
          |  AND p.us >= v.us AND p.us <= v.us + 600000000
          |ORDER BY event_id_l, event_id_r""".stripMargin,
      // the stream closes every session (sentinel-advanced watermark), so
      // the batch sessionization IS the exact oracle. The stateful fold
      // orders same-µs events arbitrarily where the batch window orders by
      // (us, event_id) — gap assignment and all aggregates are
      // tie-order-insensitive, so the results coincide.
      "stream_sessions" ->
        """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS us, value FROM events),
          |g AS (SELECT *, CASE WHEN lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id) IS NULL
          |       OR us - lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id) > 1800000000
          |       THEN 1 ELSE 0 END AS new_session FROM e),
          |s AS (SELECT *, SUM(new_session) OVER (PARTITION BY user_id ORDER BY us, event_id ROWS UNBOUNDED PRECEDING) AS session_id FROM g)
          |SELECT user_id, CAST(session_id AS BIGINT) AS session_id, COUNT(*) AS n_events,
          |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
          |  MIN(us) AS start_us, MAX(us) AS end_us
          |FROM s GROUP BY user_id, session_id ORDER BY user_id, session_id""".stripMargin,
      "ev_asof" ->
        """WITH r AS (SELECT user_id, ts, max(value) AS last_purchase_value
          |  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2)
          |SELECT e.event_id, e.user_id, r.last_purchase_value
          |FROM events e ASOF LEFT JOIN r ON e.user_id = r.user_id AND e.ts >= r.ts
          |ORDER BY event_id""".stripMargin,
      "ev_asof_fwd" ->
        """WITH r AS (SELECT user_id, ts, max(value) AS next_purchase_value
          |  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2)
          |SELECT e.event_id, e.user_id,
          |  CASE WHEN epoch_us(r.ts) - epoch_us(e.ts) <= 3600000000
          |       THEN r.next_purchase_value END AS next_purchase_value
          |FROM events e ASOF LEFT JOIN r ON e.user_id = r.user_id AND e.ts <= r.ts
          |ORDER BY event_id""".stripMargin,
      "ev_asof_nearest" ->
        """WITH r AS (SELECT user_id, ts, max(value) AS v
          |  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2),
          |b AS (SELECT e.event_id, e.user_id, e.ts, r.ts AS bts, r.v AS bv
          |      FROM events e ASOF LEFT JOIN r ON e.user_id = r.user_id AND e.ts >= r.ts),
          |f AS (SELECT e.event_id, r.ts AS fts, r.v AS fv
          |      FROM events e ASOF LEFT JOIN r ON e.user_id = r.user_id AND e.ts <= r.ts)
          |SELECT b.event_id, b.user_id,
          |  CASE WHEN bts IS NULL THEN fv
          |       WHEN fts IS NULL THEN bv
          |       WHEN (epoch_us(fts) - epoch_us(b.ts)) < (epoch_us(b.ts) - epoch_us(bts)) THEN fv
          |       ELSE bv END AS near_purchase_value
          |FROM b JOIN f USING (event_id)
          |ORDER BY event_id""".stripMargin,
      "ev_range" ->
        """WITH p AS (SELECT event_id, user_id, CAST(FLOOR(epoch(ts)) AS BIGINT) AS t FROM events),
          |d AS (SELECT DISTINCT user_id, CAST(FLOOR(epoch(date_trunc('day', ts))) AS BIGINT) AS day0 FROM events),
          |iv AS (SELECT user_id, day0 AS start, day0 + 21600 AS stop FROM d
          |       UNION ALL SELECT user_id, day0 + 10800, day0 + 32400 FROM d)
          |SELECT p.event_id, p.user_id, iv.start
          |FROM p JOIN iv ON p.user_id = iv.user_id AND p.t >= iv.start AND p.t < iv.stop
          |ORDER BY event_id, start""".stripMargin,
      "misc_map_udf" ->
        """SELECT o_orderkey, CAST(substring(o_orderpriority, 1, 1) AS INT) * 10 AS prio_rank
          |FROM orders ORDER BY o_orderkey""".stripMargin,
      "misc_apply" ->
        """SELECT l_orderkey, l_linenumber, l_quantity * 2 + 1 AS qty2
          |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin,
      // same md5-bucket recipe as sample_stratified/sample_weighted, with
      // the seed folded into the hashed key (frac 0.1 → 100000/1000000)
      "misc_sample" ->
        """SELECT l_orderkey, l_linenumber FROM lineitem
          |WHERE CAST(concat('0x', substr(md5(CAST(l_orderkey AS VARCHAR) || '_' || CAST(l_linenumber AS VARCHAR) || ':42'),1,7)) AS BIGINT) % 1000000 < 100000
          |ORDER BY l_orderkey, l_linenumber""".stripMargin,

      "src_csv_roundtrip" ->
        "SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey",
      "src_json_roundtrip" ->
        "SELECT n_nationkey, n_name, n_regionkey FROM nation ORDER BY n_nationkey",
      "src_variant_json" ->
        """WITH j AS (SELECT n_nationkey,
          |  '{"k": ' || n_nationkey || ', "name": "' || n_name || '", "region": {"id": ' || n_regionkey || '}}' AS js
          |  FROM nation)
          |SELECT n_nationkey, CAST(js->>'$.k' AS BIGINT) AS k, js->>'$.name' AS name,
          |  CAST(js->>'$.region.id' AS BIGINT) AS region_id
          |FROM j ORDER BY n_nationkey""".stripMargin,
      "src_orc_roundtrip" ->
        "SELECT s_suppkey, s_name, s_nationkey, s_acctbal FROM supplier ORDER BY s_suppkey",
      "src_xml_roundtrip" ->
        "SELECT n_nationkey, n_name, n_regionkey FROM nation ORDER BY n_nationkey",
      "src_txt_roundtrip" ->
        "SELECT r_name FROM region ORDER BY r_name",
      "src_partition_prune" ->
        """SELECT count(*) AS n,
          |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
          |FROM orders WHERE o_orderpriority = '1-URGENT'""".stripMargin,
      "src_gzip_roundtrip" ->
        "SELECT r_name FROM region ORDER BY r_name",
      // spider: formats are the spec (the fixture writes them); the
      // column counts are derived INDEPENDENTLY from information_schema
      // over the registered views, not from the spidered files
      "src_spider" ->
        """SELECT 'nation' AS dataset, 'json' AS format,
          |  (SELECT CAST(count(*) AS BIGINT) FROM information_schema.columns WHERE table_name = 'nation') AS n_cols
          |UNION ALL SELECT 'region', 'csv',
          |  (SELECT CAST(count(*) AS BIGINT) FROM information_schema.columns WHERE table_name = 'region')
          |UNION ALL SELECT 'supplier', 'parquet',
          |  (SELECT CAST(count(*) AS BIGINT) FROM information_schema.columns WHERE table_name = 'supplier')
          |ORDER BY dataset""".stripMargin,
      // the engine decodes REAL PNG files read back through binaryFile;
      // the oracle recomputes the synthesized dimensions from the key
      "src_binary_roundtrip" ->
        """SELECT CAST(n_nationkey AS BIGINT) AS media_id,
          |  CAST(n_nationkey % 31 + 1 AS BIGINT) AS width,
          |  CAST(n_nationkey % 17 + 1 AS BIGINT) AS height,
          |  CAST(3 AS BIGINT) AS channels
          |FROM nation ORDER BY media_id""".stripMargin,

      "arr_transpose" ->
        """SELECT generate_subscripts(embedding, 1) - 1 AS d0, vec_id AS d1,
          |  unnest(embedding) AS v
          |FROM embeddings ORDER BY d0, d1""".stripMargin,
      "arr_axis_sum" ->
        """WITH c0 AS (SELECT generate_subscripts(embedding, 1) - 1 AS pos,
          |    unnest(embedding) AS ev FROM embeddings)
          |SELECT pos, CAST(SUM(CAST(floor(CAST(ev AS DOUBLE) * 1000) AS BIGINT)) AS BIGINT) AS v
          |FROM c0 GROUP BY pos ORDER BY pos""".stripMargin,
      "arr_normalize" ->
        s"""WITH n AS (SELECT vec_id, ${sqlNorm("embedding")} AS norm FROM embeddings),
           |e AS (SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS pos,
           |    unnest(embedding) AS ev FROM embeddings)
           |SELECT e.vec_id, CAST(e.pos AS BIGINT) AS pos,
           |  CAST(e.ev AS DOUBLE) / NULLIF(n.norm, 0.0) AS u
           |FROM e JOIN n ON n.vec_id = e.vec_id WHERE e.pos < 3
           |ORDER BY e.vec_id, pos""".stripMargin,
      "arr_matmul" ->
        """WITH c0 AS (SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS pos,
          |    unnest(embedding) AS ev FROM embeddings),
          |coo AS (SELECT vec_id, pos,
          |    CAST(floor(CAST(ev AS DOUBLE) * 1000) AS BIGINT) AS q FROM c0)
          |SELECT a.pos AS d0, b.pos AS d1, CAST(SUM(a.q * b.q) AS BIGINT) AS v
          |FROM coo a JOIN coo b USING (vec_id)
          |GROUP BY 1, 2 ORDER BY d0, d1""".stripMargin,

      "arr_pca" ->
        s"""WITH $sqlPcaChain
           |SELECT CAST(i AS BIGINT) AS d, CAST(sg * v AS DOUBLE) / 1048576.0 AS loading
           |FROM vf CROSS JOIN sgn ORDER BY d""".stripMargin,

      // planted-geometry witness: rank-1 scatter along u = (3,4) makes
      // the axis the LITERALS (0.75, 1.0) — no scatter matrix, no
      // power rounds, no quantization; the only data work is counting
      // the 1-in-16 sample
      "arr_pca_witness" ->
        """WITH n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_vecs
          |  FROM embeddings WHERE vec_id % 16 = 0)
          |SELECT v.d, v.loading, n.n_vecs
          |FROM (VALUES (CAST(0 AS BIGINT), CAST(0.75 AS DOUBLE)),
          |             (CAST(1 AS BIGINT), CAST(1.0 AS DOUBLE))) AS v(d, loading)
          |CROSS JOIN n ORDER BY v.d""".stripMargin,

      "arr_pca_project" ->
        s"""WITH $sqlPcaChain,
           |pr AS (SELECT vec_id, SUM(CAST(x.q AS HUGEINT) * vf.v) AS sq
           |  FROM x JOIN vf ON vf.i = x.i GROUP BY vec_id)
           |SELECT vec_id, CAST(sgn.sg * pr.sq AS DOUBLE) / 1099511627776.0 AS score
           |FROM pr CROSS JOIN sgn ORDER BY vec_id""".stripMargin,

      "arr_pca2" ->
        s"""WITH $sqlPcaChain,
           |$sqlPca2Chain
           |SELECT CAST(vf.i AS BIGINT) AS d,
           |  CAST(sgn.sg * vf.v AS DOUBLE) / 1048576.0 AS loading1,
           |  CAST(sgnu.sg * uf.v AS DOUBLE) / 1048576.0 AS loading2
           |FROM vf JOIN uf ON uf.i = vf.i CROSS JOIN sgn CROSS JOIN sgnu
           |ORDER BY d""".stripMargin,

      "misc_cached" ->
        """SELECT l_returnflag, COUNT(*) AS n,
          |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS q
          |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

      // null-as-violation CASE folds, one branch per rule
      "profile_columns" -> {
        val cols = Seq("l_orderkey", "returnflag_holed", "l_shipdate")
        val per = cols.map { c =>
          s"""SELECT '$c' AS col_name, COUNT(*) AS n_rows,
             |  CAST(SUM(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
             |  CAST(SUM(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS null_frac,
             |  COUNT(DISTINCT $c) AS n_distinct FROM t""".stripMargin
        }.mkString("\nUNION ALL ")
        s"""WITH t AS (SELECT l_orderkey,
           |  CASE WHEN l_returnflag = 'N' THEN NULL ELSE l_returnflag END AS returnflag_holed,
           |  l_shipdate FROM lineitem)
           |SELECT * FROM ($per) ORDER BY col_name""".stripMargin
      },
      "profile_drift" -> {
        val cols = Seq("returnflag_holed", "l_quantity")
        def per(src: String) = cols.map { c =>
          s"""SELECT '$c' AS col_name,
             |  CAST(SUM(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS null_frac,
             |  COUNT(DISTINCT $c) AS n_distinct FROM $src""".stripMargin
        }.mkString("\nUNION ALL ")
        s"""WITH t AS (SELECT l_orderkey,
           |  CASE WHEN l_returnflag = 'N' THEN NULL ELSE l_returnflag END AS returnflag_holed,
           |  l_quantity FROM lineitem),
           |ea AS (SELECT * FROM t WHERE l_orderkey % 2 = 0),
           |eb AS (SELECT * FROM t WHERE l_orderkey % 2 = 1),
           |pa AS (${per("ea")}),
           |pb AS (${per("eb")})
           |SELECT pa.col_name, pa.null_frac AS null_frac_a, pb.null_frac AS null_frac_b,
           |  pb.null_frac - pa.null_frac AS null_frac_delta,
           |  pa.n_distinct AS n_distinct_a, pb.n_distinct AS n_distinct_b,
           |  CAST(pb.n_distinct AS DOUBLE) / pa.n_distinct AS distinct_ratio
           |FROM pa JOIN pb ON pa.col_name = pb.col_name ORDER BY pa.col_name""".stripMargin
      },
      "profile_benford" -> {
        val w = graft.operators.Validate.BenfordWeights.mkString("[", ", ", "]")
        s"""WITH c AS (SELECT CAST(SUBSTR(CAST(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS VARCHAR), 1, 1) AS BIGINT) AS digit,
           |    COUNT(*) AS n_obs
           |  FROM orders
           |  WHERE CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) > 0
           |  GROUP BY 1),
           |t AS (SELECT CAST(SUM(n_obs) AS BIGINT) AS n FROM c)
           |SELECT digit, n_obs,
           |  CAST(n_obs * 1048576 - t.n * ($w)[digit] AS BIGINT) AS dev_q
           |FROM c, t ORDER BY digit""".stripMargin
      },
      "profile_psi" ->
        """WITH ca AS (SELECT event_type AS category, COUNT(*) AS c FROM events
          |  WHERE user_id % 2 = 0 GROUP BY 1),
          |cb AS (SELECT event_type AS category, COUNT(*) AS c FROM events
          |  WHERE user_id % 2 = 1 GROUP BY 1),
          |j AS (SELECT coalesce(ca.category, cb.category) AS category,
          |    CAST(coalesce(ca.c, 0) + 1 AS BIGINT) AS c_a,
          |    CAST(coalesce(cb.c, 0) + 1 AS BIGINT) AS c_b
          |  FROM ca FULL OUTER JOIN cb ON ca.category = cb.category),
          |t AS (SELECT CAST(SUM(c_a) AS BIGINT) AS na, CAST(SUM(c_b) AS BIGINT) AS nb FROM j)
          |SELECT category, c_a, c_b,
          |  CAST((c_a * nb - c_b * na) *
          |    ((length(bin(c_a * nb)) - 1) - (length(bin(c_b * na)) - 1)) AS BIGINT) AS contrib_q
          |FROM j, t ORDER BY category""".stripMargin,
      "priv_kanon" ->
        """SELECT c_mktsegment, c_nationkey,
          |  COUNT(*) AS class_size,
          |  COUNT(DISTINCT c_acctbal) AS l_diversity,
          |  COUNT(*) < 10 AS violates_k,
          |  COUNT(DISTINCT c_acctbal) < 10 AS violates_l
          |FROM customer GROUP BY c_mktsegment, c_nationkey
          |ORDER BY c_mktsegment, c_nationkey""".stripMargin,
      "priv_tclose" ->
        """WITH g AS (SELECT c_mktsegment AS v, COUNT(*) AS gv FROM customer GROUP BY 1),
          |n AS (SELECT COUNT(*) AS nt FROM customer),
          |cv AS (SELECT c_nationkey, c_mktsegment AS v, COUNT(*) AS cvn
          |       FROM customer GROUP BY 1, 2),
          |cw AS (SELECT *, SUM(cvn) OVER (PARTITION BY c_nationkey) AS ncls FROM cv),
          |per AS (SELECT c_nationkey, CAST(MAX(ncls) AS BIGINT) AS class_size,
          |    SUM(ABS(CAST(cvn AS HUGEINT) * nt - CAST(gv AS HUGEINT) * ncls)) AS num_present,
          |    SUM(gv) AS g_present, MAX(nt) AS nt
          |  FROM cw JOIN g USING (v) CROSS JOIN n
          |  GROUP BY c_nationkey)
          |SELECT c_nationkey, class_size,
          |  CAST(num_present + CAST(nt - g_present AS HUGEINT) * class_size AS DOUBLE)
          |    / (2.0 * class_size * nt) AS tv_distance,
          |  CAST(num_present + CAST(nt - g_present AS HUGEINT) * class_size AS DOUBLE)
          |    / (2.0 * class_size * nt) > 0.1 AS violates_t
          |FROM per ORDER BY c_nationkey""".stripMargin,
      "misc_validate" ->
        """SELECT * FROM (
          |SELECT 'acctbal_nonneg' AS rule,
          |  CAST(SUM(CASE WHEN coalesce(c_acctbal >= 0, FALSE) THEN 0 ELSE 1 END) AS BIGINT) AS n_violations FROM customer
          |UNION ALL SELECT 'name_nonempty',
          |  CAST(SUM(CASE WHEN coalesce(length(c_name) > 0, FALSE) THEN 0 ELSE 1 END) AS BIGINT) FROM customer
          |UNION ALL SELECT 'segment_known',
          |  CAST(SUM(CASE WHEN coalesce(c_mktsegment IN ('AUTOMOBILE','BUILDING','FURNITURE','MACHINERY'), FALSE) THEN 0 ELSE 1 END) AS BIGINT) FROM customer
          |UNION ALL SELECT 'unique(c_custkey)',
          |  CAST(coalesce(SUM(CASE WHEN c > 1 THEN c ELSE 0 END), 0) AS BIGINT)
          |  FROM (SELECT COUNT(*) AS c FROM customer GROUP BY c_custkey)
          |UNION ALL SELECT 'fk_orders_holed_dim',
          |  CAST(COUNT(*) AS BIGINT) FROM orders
          |  WHERE o_custkey IS NOT NULL
          |    AND o_custkey NOT IN (SELECT c_custkey FROM customer WHERE c_custkey % 97 <> 0)
          |) ORDER BY rule""".stripMargin,

      // KMV replay: same 48-bit md5 space, same k, same exact-int64
      // estimator; row LEAST(64, n) is h_k when n >= k and the largest
      // (hence count-revealing) hash otherwise
      "red_nunique_kmv" ->
        """WITH h AS (SELECT DISTINCT CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT) AS oyear,
          |  CAST(concat('0x', substr(md5(CAST(o_custkey AS VARCHAR)),1,12)) AS BIGINT) AS h FROM orders),
          |r AS (SELECT oyear, h, row_number() OVER (PARTITION BY oyear ORDER BY h) AS rn,
          |  count(*) OVER (PARTITION BY oyear) AS n FROM h)
          |SELECT oyear, CAST(CASE WHEN n < 64 THEN n ELSE (63 * 281474976710656) // h END AS BIGINT) AS n_est
          |FROM r WHERE rn = LEAST(64, n) ORDER BY oyear""".stripMargin,

      // theta-sketch overlap replay: same md5-48 hashes, k smallest of
      // the sketch union, same integer estimator
      "red_kmv_overlap" ->
        s"""WITH t AS (SELECT CAST(SUBSTR(source, 4) AS INT) AS sn,
           |    $sqlTokens AS ts FROM documents),
           |sh AS (SELECT sn, ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] AS sh
           |  FROM (SELECT sn, ts, unnest(range(1, greatest(len(ts) - 2, 0) + 1)) AS i FROM t)),
           |ta AS (SELECT h FROM (SELECT DISTINCT CAST(concat('0x', substr(md5(sh),1,12)) AS BIGINT) AS h
           |  FROM sh WHERE sn < 10) ORDER BY h LIMIT 64),
           |tb AS (SELECT h FROM (SELECT DISTINCT CAST(concat('0x', substr(md5(sh),1,12)) AS BIGINT) AS h
           |  FROM sh WHERE sn >= 10) ORDER BY h LIMIT 64),
           |u AS (SELECT h, row_number() OVER (ORDER BY h) AS rn,
           |  count(*) OVER () AS ntot FROM (SELECT h FROM ta UNION SELECT h FROM tb)),
           |m AS (SELECT LEAST(64, ntot) AS m, ntot FROM u LIMIT 1),
           |th AS (SELECT u.h AS theta FROM u, m WHERE u.rn = m.m),
           |c AS (SELECT COUNT(*) AS c FROM u, m WHERE u.rn <= m.m
           |  AND u.h IN (SELECT h FROM ta) AND u.h IN (SELECT h FROM tb)),
           |nu AS (SELECT CAST(CASE WHEN m.ntot < 64 THEN m.ntot
           |  ELSE (63 * 281474976710656) // th.theta END AS BIGINT) AS n_union_est
           |  FROM m, th)
           |SELECT n_union_est,
           |  CAST((c.c * n_union_est) // m.m AS BIGINT) AS n_inter_est,
           |  CAST(c.c AS DOUBLE) / m.m AS jaccard_est
           |FROM nu, c, m""".stripMargin,

      // sampled-quantile replay: same md5 sample bucket (seed 7, 25%),
      // same lower discrete quantile at 0-based position (n-1)//2
      "red_quantile_sampled" ->
        s"""WITH s AS (SELECT lang, CAST(len($sqlTokens) AS BIGINT) AS v FROM documents
           |  WHERE CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR) || ':7'),1,7)) AS BIGINT) % 1000000 < 250000),
           |r AS (SELECT lang, v, row_number() OVER (PARTITION BY lang ORDER BY v) AS rn,
           |  count(*) OVER (PARTITION BY lang) AS n FROM s)
           |SELECT lang, n AS n_sample, v AS quantile FROM r
           |WHERE rn - 1 = (1 * (n - 1)) // 2 ORDER BY lang""".stripMargin
    )
  }

  // =====================================================================
  // Stream rows
  //
  // Each stream_* row is one operator over file-source streams of one
  // fixture table, written once in streamRows. Its bench face runs it
  // through a real executor-parallel stream into landed parquet at a
  // data-sized state width: the form a capacity plan needs and the one
  // Bench and perfbench time. Its gate is that face plus only the final
  // reduction its oracle reads (a sort, a limit, a per-key max or a
  // projection): bounded input and event-time semantics make the batch
  // SQL over the same parquet an exact oracle, so the timed form is the
  // checked form. Two rows differ: a session or an unmatched outer row
  // emits only when a LATER watermark passes it, and a one-batch
  // file-source run has none, so their gates replay the batch table in
  // event-time chunks through the same operator and feed a far-future
  // sentinel last (their `tail`).
  // =====================================================================

  /** One stream row: its fixture `table`; `inputs`, the projections
    * that make each operator input from its own stream of the table;
    * `op` over those inputs; its output `mode`; `reduce`, the gate's
    * final reduction; `order`, the replay's chunk order (event time,
    * then the operator's own tie-break); `tail`, the sentinel of a row
    * whose gate replays; `mbPerPart`, the source megabytes per state
    * partition ([[streamStateParts]]). */
  private[graft] final case class StreamRow(table: String, mode: String,
      op: (SparkSession, Seq[DataFrame]) => DataFrame,
      reduce: DataFrame => DataFrame,
      inputs: Seq[DataFrame => DataFrame] = Seq(identity),
      order: Seq[String] = Seq("ts", "event_id"),
      tail: Option[StreamReplay.Sentinel] = None,
      mbPerPart: Long = 32L)

  private val views: DataFrame => DataFrame = _.filter(col("event_type") === "view")
    .select(col("event_id"), col("user_id"), col("ts"))
  private val purchases: DataFrame => DataFrame = _.filter(col("event_type") === "purchase")
    .select(col("event_id"), col("user_id"), col("ts"))
  private val userValues: DataFrame => DataFrame =
    _.select(col("user_id"), col("ts"), col("value"))
  private val eventValues: DataFrame => DataFrame =
    _.select(col("user_id"), col("event_id"), col("ts"), col("value"))

  private[graft] val streamRows: Map[String, StreamRow] = Map(
    // custom-state sessionization (flatMapGroupsWithState): Append
    // emits a session once the watermark passes its end + gap; oracle =
    // the same batch sessionization SQL as ev_sessions (totals exact
    // via integer-cents state)
    "stream_sessions" -> StreamRow("events", "append",
      (s, in) => StreamOps.statefulSessions(s, in.head, gapSeconds = 1800L,
        watermark = "1 second").toDF(),
      _.filter(col("user_id") =!= Long.MinValue)
        .select(col("user_id"), col("session_id"), col("n_events"),
          col("total_value"), col("start_us"), col("end_us"))
        .orderBy("user_id", "session_id"),
      inputs = Seq(userValues), order = Seq("ts"),
      tail = Some(StreamReplay.Sentinel(1800L, ts => Row(Long.MinValue, ts, 0.0)))),
    // LEFT OUTER interval join: views that never converted within 10 min
    // emit with null purchase ids once the watermark proves no match can
    // arrive; oracle = the batch LEFT JOIN
    "stream_interval_left" -> StreamRow("events", "append",
      (_, in) => StreamOps.intervalJoinLeftOuter(in(0), in(1), "user_id",
        windowSeconds = 600L, watermark = "1 second"),
      _.filter(col("user_id_l") =!= Long.MinValue)
        .select(col("event_id_l"), col("event_id_r"))
        .orderBy("event_id_l", "event_id_r"),
      inputs = Seq(views, purchases),
      tail = Some(StreamReplay.Sentinel(600L, ts => Row(Long.MinValue, Long.MinValue, ts)))),
    // CUSUM drift detector: two longs of state per user, the same
    // pure-int64 arithmetic as the batch ev_cusum window formulation
    "stream_cusum" -> StreamRow("events", "append",
      (s, in) => StreamOps.cusumStream(s, in.head, kCenti = 5000L, hCenti = 20000L).toDF(),
      _.orderBy("user_id", "event_id"), inputs = Seq(eventValues)),
    // anomaly flags: ring of the last k centi-values per user, the same
    // cross-multiplied int64 verdict as the batch ev_anomaly
    "stream_anomaly" -> StreamRow("events", "append",
      (s, in) => StreamOps.anomalyStream(s, in.head, k = 5, z = 3L).toDF(),
      _.orderBy("user_id", "event_id"), inputs = Seq(eventValues)),
    // first/last-touch attribution, emitted on conversion arrival;
    // oracle = the batch window SQL of ev_attribution minus ts
    "stream_attribution" -> StreamRow("events", "append",
      (s, in) => StreamOps.attributionStream(s, in.head, conversionType = "purchase",
        touchTypes = Seq("view", "click", "signup"), watermark = "1 second").toDF(),
      _.select(col("event_id"), col("user_id"), col("first_touch"), col("last_touch"))
        .orderBy("event_id"),
      inputs = Seq(_.select(col("user_id"), col("ts"), col("event_type"), col("event_id")))),
    // EWMA and Holt (Update mode): the same rational folds and (ts, value)
    // order as the batch ev_ewma / ev_holt, so the last emit per user
    // (the one carrying its event count) is the batch answer bit-for-bit
    "stream_ewma" -> StreamRow("events", "update",
      (s, in) => StreamOps.ewmaStream(s, in.head, 1L, 5L).toDF(),
      _.groupBy(col("user_id"))
        .agg(max(col("n_events")).as("n_events"),
          max_by(col("ewma"), col("n_events")).as("ewma"))
        .orderBy("user_id"),
      inputs = Seq(userValues), order = Seq("ts", "value")),
    "stream_holt" -> StreamRow("events", "update",
      (s, in) => StreamOps.holtStream(s, in.head, 2L, 10L, 3L, 10L).toDF(),
      _.groupBy(col("user_id"))
        .agg(max(col("n_events")).as("n_events"),
          max_by(col("level"), col("n_events")).as("level"),
          max_by(col("trend"), col("n_events")).as("trend"))
        .orderBy("user_id"),
      inputs = Seq(userValues), order = Seq("ts", "value")),
    "stream_tumbling" -> StreamRow("events", "complete",
      (_, in) => StreamOps.tumblingAgg(in.head, widthSeconds = 300L),
      _.orderBy("window_start", "event_type")),
    // hourly OHLC bars: epoch-aligned windows = date_trunc hour, so the
    // batch ev_ohlc oracle serves both
    "stream_ohlc" -> StreamRow("events", "complete",
      (_, in) => StreamOps.ohlcStream(in.head, widthSeconds = 3600L),
      _.orderBy("bucket")),
    // exact unique visitors per 5-min window: update-mode running counts
    // only grow, so the max per window is the batch answer
    "stream_window_users" -> StreamRow("events", "update",
      (_, in) => StreamOps.windowedUsers(in.head, widthSeconds = 300L),
      _.groupBy("window_start").agg(max(col("n_users")).as("n_users"))
        .orderBy("window_start")),
    // heavy hitters: after the final batch the complete-mode state IS
    // the batch aggregate; ranking happens on the bounded final table
    "stream_topk" -> StreamRow("events", "complete",
      (_, in) => in.head.groupBy(col("user_id")).agg(count(lit(1)).as("n")),
      _.orderBy(desc("n"), col("user_id")).limit(20)),
    // which duplicate survives depends on in-batch arrival order, so the
    // row lands the (deterministic) fingerprint set. Event time is
    // synthetic (the fixture has none): doc_id seconds a day past epoch
    // 0, since the initial watermark IS epoch 0 and a row at the
    // watermark is dropped as late
    "stream_dedup" -> StreamRow("documents", "append",
      (_, in) => StreamOps.streamingExactDedup(in.head, "ts")
        .select(TextFunctions.fingerprintMd5(col("text")).as("fp")),
      _.orderBy("fp"),
      inputs = Seq(_.withColumn("ts", timestamp_seconds(col("doc_id") + 86400L)))),
    // a stream-stream join commits FOUR state stores per partition
    // (left/right x keyToNumValues/keyWithIndexToValue), so its
    // per-partition overhead is ~4x an aggregation's: 4x coarser width
    // (measured at sf10: 17.5 s at the aggregate sizing's 25 partitions
    // vs 9.0 s at 8)
    "stream_interval_join" -> StreamRow("events", "append",
      (_, in) => StreamOps.intervalJoin(in(0), in(1), "user_id", windowSeconds = 600L)
        .select(col("event_id_l"), col("event_id_r")),
      _.orderBy("event_id_l", "event_id_r"),
      inputs = Seq(views, purchases), mbPerPart = 128L))

  /** `row`'s bench face: its operator over one file-source stream of its
    * table per input, landed as parquet at the data-sized state width. */
  private def streamFace(s: SparkSession, dir: String, row: String): DataFrame = {
    val r = streamRows(row)
    StreamRun(s, "bf_" + row.stripPrefix("stream_"),
      r.op(s, r.inputs.map(_(Tables.stream(s, dir, r.table)))), r.mode,
      StreamRun.Landed, Some(streamStateParts(s, dir, r.table, r.mbPerPart)))()
  }

  /** Each stream row's gate: its face and its final reduction, or, for a
    * row with a tail, its operator replayed over the batch table. */
  private def streamGates: Map[String, (SparkSession, String) => DataFrame] =
    streamRows.map { case (row, r) => row -> { (s: SparkSession, dir: String) =>
      r.reduce(r.tail.fold(streamFace(s, dir, row)) { sentinel =>
        StreamReplay(s, s"${row}_sink", r.inputs.map(_(t(s, dir, r.table))), r.order,
          r.mode, sentinel = Some(sentinel))(r.op(s, _))
      })
    }}

  /** The dedup_pr_audit aggregate, shared verbatim by the gate row and
    * its chunked scale face (identical pair sets in → identical single
    * row out): full-outer the two pair sets, count exact/approx/both,
    * one recall and one precision division. */
  private def prAuditAgg(exact0: DataFrame, lsh0: DataFrame): DataFrame = {
    val exact = exact0.select(col("id_a"), col("id_b"), lit(1).as("_e"))
    val lsh = lsh0.select(col("id_a"), col("id_b"), lit(1).as("_l"))
    exact.join(lsh, Seq("id_a", "id_b"), "full_outer")
      .agg(count(col("_e")).as("n_exact"), count(col("_l")).as("n_approx"),
        count(when(col("_e").isNotNull && col("_l").isNotNull, 1)).as("n_both"))
      .select(col("n_exact"), col("n_approx"), col("n_both"),
        (col("n_both").cast(DoubleType) / col("n_exact").cast(DoubleType)).as("recall"),
        (col("n_both").cast(DoubleType) / col("n_approx").cast(DoubleType)).as("prec"))
  }

  /** Waves per round of the two graph scale faces: the count their
    * sf100 rehearsals ran (a face runs only past its 4 GiB input
    * threshold, so the gate SFs never reach it). */
  private val GraphFacePasses = 6

  /** Scale-face auto-selection (VERDICT r15 #5): rows whose single-pass
    * form is exact but whose one-box execution footprint has a
    * documented ceiling run their bounded-footprint CHUNKED sibling
    * past a disclosed input size — selected from the DATA (the named
    * input table's on-disk bytes), not from a skip env var, so a
    * full-scale record covers all rows with `skipped: []` and the
    * substitution is reported in the JSON's "scale_faces" list exactly
    * like the stream faces. The sibling is certified result-identical
    * by the equivalence unit suite (identical pair set at ANY wave
    * count) and shares the single-pass row's oracle. Value:
    * (input table the threshold reads, byte threshold, substitute). */
  def scaleFaces
      : Map[String, (String, Long, (SparkSession, String) => DataFrame)] = Map(
    // the r14/r15 sf10 records skipped this row via SPARK_GRAFT_SKIP
    // (adversarial 931-bigram fixture: single-pass candidate spill
    // exceeds one-box disk); the chunked form IS its scale face —
    // 137.5 s at sf10 in the r15 record
    "dedup_prefix_pairs" ->
      (("documents", 16L << 20, queries("dedup_prefix_chunked"))),
    // single-pass labelprop exceeds one-box local disk past ~sf30-100
    // (measured at sf100: disk-full at 57 GB free — 3 rounds of
    // edge-sized vote exchange); the wave form divides peak transient
    // disk by the wave count and is result-identical at any wave count
    // (equivalence unit test). 848.9 s green at sf100 where the
    // single-pass form cannot finish.
    "graph_labelprop" -> (("lineitem", 4L << 30, { (s, dir) =>
      val e0 = affinityEdges(s, dir)
      val e = e0.union(e0.select(col("dst").as("src"), col("src").as("dst")))
      val out = Scratch.landing(s, s"graph_labelprop|$dir")
      Scratch.using(s, "graft-lpc-face") { staging =>
        land(Graph.labelPropagationChunked(e, iters = 3, passes = GraphFacePasses, staging), out)
      }.orderBy("id")
    })),
    // past the cache ceiling the wave form is not just SAFER but
    // MEASURED-faster (r17 sf100 cross-check: chunked 580.7 s vs
    // plain 737.1 s, crc-IDENTICAL ranks at 1.17 B edges — the plain
    // form pays columnar-cache eviction churn once edges exceed the
    // storage pool); same disclosed threshold as the labelprop face
    "graph_pagerank" -> (("lineitem", 4L << 30, { (s, dir) =>
      val e0 = affinityEdges(s, dir)
      val e = e0.union(e0.select(col("dst").as("src"), col("src").as("dst")))
      val out = Scratch.landing(s, s"graph_pagerank|$dir")
      Scratch.using(s, "graft-prc-face") { staging =>
        land(Graph.pagerankChunked(e, iters = 3, passes = GraphFacePasses, staging), out)
      }.orderBy("id")
    })),
    // the audit's exchange is ~98% the exact route (measured, see the
    // gate row), so past the same threshold it runs the identical
    // aggregate over the CHUNKED exact route — same pair set, same
    // single row, peak spill divided by the wave count (this row read
    // 13x its NVMe record on a 556 MB/s disk in r15, pure spill class)
    "dedup_pr_audit" -> (("documents", 16L << 20, { (s, dir) =>
      val docs = t(s, dir, "documents")
      val passes = autoPasses(s, dir, "documents", 64L << 20)
      val out = Scratch.landing(s, s"dedup_pr_audit|$dir")
      // the audit output is ONE row — land it, reclaim the wave staging
      Scratch.using(s, "graft-praudit") { staging =>
        val exact = Dedup.prefixJaccardPairsChunked(docs, n = 3, tNum = 3,
          tDen = 10, passes = passes, stagingDir = staging)
        land(prAuditAgg(exact, Dedup.minhashPairs(docs, threshold = 0.3, n = 3)), out)
      }
    })))

  /** Every stream row's bench face ([[streamFace]]): the form Bench,
    * MiniBench and perfbench time. */
  def benchFaces: Map[String, (SparkSession, String) => DataFrame] =
    streamRows.map { case (row, _) => row -> ((s: SparkSession, dir: String) => streamFace(s, dir, row)) }

  /** Data-sized state-partition width of a stream row's face (and so
    * of its gate): ~`mb` MB of source parquet per state partition, floor
    * 2, capped at the session shuffle width (state tasks can't use more
    * cores than exist). The per-partition HDFS-backed state-store commit
    * is a fixed per-batch cost, so width must follow data volume, not a
    * constant: measured per batch at sf0.1, 8 -> 2 partitions reads
    * sessions 3.87 -> 1.79 s, ewma 1.93 -> 1.16, tumbling 2.29 -> 1.91,
    * interval_join 3.63 -> 3.10 (3-rep medians; 1 partition adds nothing
    * over 2). The floor of 2 keeps the plan genuinely partitioned at
    * every scale; width still grows with data (sf10 -> 6, sf100 ->
    * session width). */
  private def streamStateParts(s: SparkSession, dir: String, table: String,
                               mb: Long): Int = {
    val bytes = Tables.bytes(s, dir, table)
    // session width is the OUTER bound (state tasks can't use more
    // cores than exist — ADVICE r15: the floor must not override a
    // session configured narrower), the floor of 2 applies only
    // inside it
    math.min(s.sessionState.conf.numShufflePartitions,
      math.max(2L, bytes / (mb << 20)).toInt)
  }
}
