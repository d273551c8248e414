package graft
package suite

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.functions.TextFunctions
import graft.operators.{Dedup, Similarity}

/** The pieces the suite's rows share: the fixture reader, the exact
  * decimal aggregates, landing and wave-count helpers, the derived-edges
  * cache, the stream state width, and the DuckDB SQL fragments the
  * oracles are built from.
  *
  * The DuckDB oracle SQL for the hash-heavy operators is GENERATED from
  * the same constants the Scala operators use (minhash permutations,
  * simhash bit count, rolling-hash weights, embedding dimension), so both
  * engines execute the identical math — differential testing without
  * rounding slop.
  */
object Shared {
  // ---- determinism helpers (shared by queries; mirrored in oracle SQL) ----
  private[suite] val D = DecimalType(18, 2)
  /** exact, order-independent SUM over a 2-decimal double column. */
  private[suite] def dsum(c: Column): Column = sum(c.cast(D)).cast(DoubleType)
  /** exact AVG = exact sum / count, evaluated in double identically. */
  private[suite] def davg(c: Column): Column = sum(c.cast(D)).cast(DoubleType) / count(c)

  private[suite] def t(s: SparkSession, dir: String, name: String): DataFrame =
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
  private[suite] val edgeCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private[suite] def cachedEdges(s: SparkSession, dir: String, recipe: String)
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
  private[suite] def autoPasses(s: SparkSession, dir: String, table: String,
                         bytesPerWave: Long): Int = {
    val bytes = Tables.bytes(s, dir, table)
    math.max(2L, math.min(64L, (bytes + bytesPerWave - 1) / bytesPerWave)).toInt
  }

  /** Write `df` to `out` as parquet and return a frame that reads it back
    * with the writer's schema, so the read starts no schema-inference job. */
  private[suite] def land(df: DataFrame, out: String): DataFrame = {
    df.write.mode("overwrite").parquet(out)
    df.sparkSession.read.schema(df.schema).parquet(out)
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
  //   - sample/hashBucket (md5 bucket, also misc_sample):
  //     (a) two md5 implementations; (b) CurationSpec "sampleHash:
  //     deterministic, rate-shaped, seed-independent draws" asserts the
  //     statistical contract without referencing md5 at all.
  //   - str_replace_max CASE chain: (b) PropertySpec
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
  private[suite] def sqlHash(x: String): String =
    s"CAST(concat('0x', substr(md5($x),1,7)) AS BIGINT)"
  private[suite] val sqlTokens = "string_split_regex(trim(text), '\\s+')"

  /** feat_logreg replay: `iters` fast-sigmoid GD iterations unrolled.
    * Mirrors Features.logisticTrain exactly — z is the same left-assoc
    * dot product, e/d/gradient the same rational trees, gradient sums
    * floor-quantized HUGEINTs, and the weight update replays the BigInt
    * floor division with a sign split (DuckDB `//` truncates toward
    * zero; `-((-t + d - 1) // d)` is floor for negative t). The CTE
    * count is 3·iters + 3 — scalar width is 4 columns, far below the
    * mmap-hazard vector unrolls the gate-hygiene note bans.
    */
  private[suite] def logregOracleSql(iters: Int, lrNum: Long): String = {
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
  private[suite] lazy val sqlPcaChain: String = {
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
  private[suite] lazy val sqlPca2Chain: String = {
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
  private[suite] def sqlChrs(s: String): String =
    s.map(c => s"chr(${c.toInt})").mkString(" || ")
  /** distinct word n-gram shingles over ts (mirrors TextFunctions.shingles). */
  private[suite] def sqlShingles(n: Int): String = {
    val parts = (0 until n).map(k => s"ts[i+$k]").mkString(" || ' ' || ")
    s"list_distinct(list_transform(range(1, greatest(len(ts)-${n - 1},0)+1), i -> $parts))"
  }
  /** sign-LSH bucket id over a DuckDB list column — generated from the
    * SAME LCG hyperplane constants as Similarity.lshBucket, with the same
    * left-to-right double fold, so bucket ids are bit-identical.
    */
  private[suite] def sqlLshBucket(vec: String, dim: Int, nBits: Int): String =
    (0 until nBits).map { i =>
      val ws = Similarity.hyperplane(i + 1, dim).mkString("[", ", ", "]")
      val dot = s"list_sum(list_transform(list_zip($vec, $ws), p -> CAST(p[1] AS DOUBLE) * p[2]))"
      s"(CASE WHEN ($dot) >= 0 THEN CAST(${1L << i} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
    }.mkString(" + ")
  private[suite] def sqlDot(a: String, b: String): String =
    s"list_sum(list_transform(list_zip($a, $b), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))"
  private[suite] def sqlNorm(a: String): String =
    s"SQRT(list_sum(list_transform($a, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))"
  private[suite] def sqlCos(a: String, b: String): String =
    s"(${sqlDot(a, b)}) / (${sqlNorm(a)} * ${sqlNorm(b)})"

  /** Elementwise integer-mean centroid as one list-valued subquery:
    * unnest member vectors positionally, per-(group, dim) exact mean
    * (same FLOOR(SUM/COUNT) arithmetic as before), regroup ordered by
    * dim. Replaces 64 unrolled SUM(qv[i]) aggregates — the unrolled
    * plan allocated tens of thousands of transient memory maps in the
    * oracle process (the round-9 gate OOM); this form is three
    * operators regardless of dimension. */
  private[suite] def sqlCentSelect(src: String, grp: String, out: String, dim: Int = 64): String =
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
  private[suite] def pqSqlCtes(m: Int, sub: Int, ksub: Int,
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
  private[suite] def hilbertSqlCtes(base: String, xExpr: String, yExpr: String, bits: Int): String = {
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

  /** dedup_bloom's oracle, and so stream_bloom_novel's: a relational
    * replay of the bloom. The corpus's DISTINCT set bit positions, then
    * an incoming row is "definitely novel" iff at least one of its k
    * salted positions is missing from that set — same membership math
    * as the bitmap, no bitmap. */
  private[suite] val sqlBloomNovel: String = {
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
  }

  // deterministic per-doc URL spliced into the fixture text for the
  // text_domains / text_blocklist queries (the fixture carries no URLs;
  // same synthesize-inputs recipe as the mm_* roundtrips). Mirrored
  // into oracle SQL via sqlNoisyUrl below.
  private[suite] def noisyUrlText: org.apache.spark.sql.Column =
    concat(col("text"), lit(" read https://www.d"),
      (col("doc_id") % 37).cast(StringType), lit(".example."),
      when(col("doc_id") % 3 === 0, "com")
        .when(col("doc_id") % 3 === 1, "org").otherwise("net"),
      lit("/page/"), col("doc_id").cast(StringType), lit(" now"))
  /** exact-domain blocklist used by text_blocklist (each entry blocks
    * the docs whose (doc_id mod 37, mod 3) residues produce it). */
  val BlockedDomains: Seq[String] =
    Seq("d0.example.com", "d4.example.org", "d8.example.net", "d13.example.org")

  // ---- generated fragments from shared constants ----
  // noisy URL synthesis + domain extraction (mirrors noisyUrlText /
  // TextFunctions.extractDomains; the regex is the shared SPEC, the
  // two regex engines and normalization executions are independent)
  // unrolled power iterations over the transition counts, same floor
  // arithmetic as the library loop; shared by ev_stationary (direct)
  // and ev_stationary_relabel (the engine relabels + maps back, so the
  // original-label oracle doubles as the equivariance witness)
  private[suite] val sqlStationary = {
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
  private[suite] val sqlNoisyUrl =
    "text || ' read https://www.d' || CAST(doc_id % 37 AS VARCHAR) || '.example.' || " +
      "(CASE doc_id % 3 WHEN 0 THEN 'com' WHEN 1 THEN 'org' ELSE 'net' END) || " +
      "'/page/' || CAST(doc_id AS VARCHAR) || ' now'"
  private[suite] val sqlDomains =
    s"list_distinct(list_transform(regexp_extract_all(t2, '${TextFunctions.UrlPattern}', 0), " +
      "u -> regexp_replace(regexp_replace(lower(u), '^(?:https?://)?(?:www\\.)?', ''), '\\.+$', '')))"
  private[suite] val mhExprs = (0 until Dedup.NumPerms).map { j =>
    s"list_min(list_transform(hs, h -> (h * ${Dedup.MinhashA(j)} + ${Dedup.MinhashB(j)}) % ${Dedup.MinhashP})) AS mh$j"
  }.mkString(",\n  ")
  private[suite] val nBands = Dedup.NumPerms / Dedup.BandRows
  private[suite] val bandSelects = (0 until nBands).map { b =>
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
  private[suite] def minhashCandCtes(n: Int): String =
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
  private[suite] def minhashPairCtes(n: Int, threshold: Double): String =
    s"""${minhashCandCtes(n)},
       |pairs AS (SELECT id_a, id_b,
       |  CAST(len(list_intersect(ha.hsd, hb.hsd)) AS DOUBLE) / CAST(len(list_distinct(list_concat(ha.hsd, hb.hsd))) AS DOUBLE) AS jaccard
       |FROM cand JOIN hd ha ON ha.doc_id = id_a JOIN hd hb ON hb.doc_id = id_b
       |WHERE CAST(len(list_intersect(ha.hsd, hb.hsd)) AS DOUBLE) / CAST(len(list_distinct(list_concat(ha.hsd, hb.hsd))) AS DOUBLE) >= $threshold)""".stripMargin
  // exact PPJoin pair set at (n=2, t=1/2) — shared by the single-pass
  // and wave-partitioned gate queries, which return the identical set
  private[suite] val sqlPrefixPairs = {
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
  private[suite] val sqlPrAudit =
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
  private[suite] def sqlMinhashPairs(n: Int, threshold: Double): String =
    s"""WITH ${minhashPairCtes(n, threshold)}
       |SELECT id_a, id_b, jaccard FROM pairs
       |ORDER BY id_a, id_b""".stripMargin
  private[suite] val simhashBandBits = Dedup.SimhashBits / 4 // maxDist=3 → 4 bands
  private[suite] val simhashBandSelects = (0 until 4).map { b =>
    s"SELECT doc_id, simhash, $b AS band, (simhash >> ${b * simhashBandBits}) & ${(1L << simhashBandBits) - 1} AS bkey FROM sig"
  }.mkString("\n  UNION ALL ")
  private[suite] val simhashTerms = (0 until Dedup.SimhashBits).map { i =>
    s"(CASE WHEN list_sum(list_transform(hs, x -> CASE WHEN (x >> $i) & 1 = 1 THEN 1 ELSE -1 END)) > 0 THEN CAST(${1L << i} AS BIGINT) ELSE 0 END)"
  }.mkString(" + ")
  private[suite] val rollW = TextFunctions.RollWeights.mkString("[", ", ", "]")
  private[suite] val stopSql = TextFunctions.LangStopwords.map { case (l, ws) =>
    s"len(list_filter(ts, x -> x IN (${ws.map(w => s"'$w'").mkString(",")}))) AS s_$l"
  }.mkString(",\n  ")
  private[suite] val langs = TextFunctions.LangStopwords.map(_._1)
  private[suite] val langCase = langs.map { l =>
    val others = langs.map(x => s"s_$x").mkString(", ")
    s"WHEN s_$l = greatest($others) AND s_$l > 0 THEN '$l'"
  }.mkString("CASE ", " ", " ELSE 'und' END")
  private[suite] val enList = TextFunctions.LangStopwords.head._2.map(w => s"'$w'").mkString(",")
  // composite quality score over columns (text, ts) — mirrors
  // TextFunctions.qualityScore term by term (same eval order)
  private[suite] val sqlQuality =
    s"""0.4 * (CAST(len(list_filter(ts, x -> x IN ($enList))) AS BIGINT) / CAST(CAST(len(ts) AS BIGINT) AS DOUBLE))
       |    + 0.3 * LEAST((CAST(length(regexp_replace(trim(text), '\\s+', '', 'g')) AS DOUBLE) / CAST(CAST(len(ts) AS BIGINT) AS DOUBLE)) / 10.0, 1.0)
       |    + 0.3 * (CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE) / CAST(length(text) AS DOUBLE))""".stripMargin

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
  private[suite] def streamStateParts(s: SparkSession, dir: String, table: String,
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
