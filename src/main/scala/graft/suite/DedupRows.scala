package graft
package suite

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.functions.TextFunctions
import graft.operators.{Bloom, Cluster, Dedup, Incremental, Similarity}
import Shared._

/** The deduplication rows: exact, fuzzy, minhash, simhash, prefix-join,
  * Bloom, embedding and semantic near-duplicate detection, duplicate
  * clusters and survivors, span and line removal, and decontamination. */
object DedupRows {
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

  /** The dedup_prefix_chunked gate, also dedup_prefix_pairs's scale face. */
  private val prefixChunked: RowDef.Build = { (s, dir) =>
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
  }

  val rows: Seq[RowDef] = Seq(
    RowDef("dedup_fuzzy", { (s, dir) =>
      Dedup.fuzzyPairs(
        t(s, dir, "customer").select(col("c_custkey").as("id"), col("c_name").as("name")),
        maxDist = 1)
        .orderBy("id_a", "id_b")
    }, oracle =
      // INDEPENDENT formulation: brute-force all-pairs edit distance vs
      // the Spark side's deletion-neighborhood candidate join (the
      // length-diff predicate is a Levenshtein lower bound, pure pruning)
      """WITH r AS (SELECT c_custkey AS id, c_name AS name FROM customer)
        |SELECT a.id AS id_a, b.id AS id_b, levenshtein(a.name, b.name) AS dist
        |FROM r a JOIN r b
        |  ON a.id < b.id AND abs(length(a.name) - length(b.name)) <= 1
        |WHERE levenshtein(a.name, b.name) <= 1
        |ORDER BY id_a, id_b""".stripMargin),
    RowDef("dedup_fuzzy_chunked", { (s, dir) =>
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
    }, oracle =
      // identical oracle as dedup_fuzzy: the chunked execution is
      // result-identical by construction (wave = pmod slice of the
      // same candidate space)
      """WITH r AS (SELECT c_custkey AS id, c_name AS name FROM customer)
        |SELECT a.id AS id_a, b.id AS id_b, levenshtein(a.name, b.name) AS dist
        |FROM r a JOIN r b
        |  ON a.id < b.id AND abs(length(a.name) - length(b.name)) <= 1
        |WHERE levenshtein(a.name, b.name) <= 1
        |ORDER BY id_a, id_b""".stripMargin),
    RowDef("dedup_fuzzy_witness", { (s, dir) =>
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
    }, oracle =
      // planted-literal witness: the pair set is hand-derived and
      // stated as VALUES — zero shared arithmetic with the operator
      // (hand derivation: 1="graft-0x41" 2="graft-0x42" 3="graft-0x4"
      // 4="graft-x041" 5="graft-0x41" 6="zzz"; 1-2 substitution, 3 is
      // 1/2 minus the last char, 5 duplicates 1, 4 is lev-2 from 1
      // despite sharing the deletion variant "graft-x41")
      """WITH n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_src
        |  FROM customer WHERE c_custkey BETWEEN 1 AND 6)
        |SELECT v.id_a, v.id_b, v.dist, n.n_src
        |FROM (VALUES (CAST(1 AS BIGINT), CAST(2 AS BIGINT), CAST(1 AS INTEGER)),
        |             (1, 3, 1), (1, 5, 0), (2, 3, 1), (2, 5, 1), (3, 5, 1))
        |  AS v(id_a, id_b, dist)
        |CROSS JOIN n ORDER BY v.id_a, v.id_b""".stripMargin),

    // ---- dedup ----
    RowDef("dedup_exact", { (s, dir) =>
      Dedup.exact(t(s, dir, "documents")).orderBy("fp")
    }, oracle =
      """SELECT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp,
        |  min(doc_id) AS keeper_id, count(*) AS n_copies
        |FROM documents GROUP BY 1 ORDER BY fp""".stripMargin),
    RowDef("dedup_minhash_sig", { (s, dir) =>
      Dedup.minhashSignatures(t(s, dir, "documents")).orderBy("doc_id")
    }, oracle =
      s"""WITH t AS (SELECT doc_id, $sqlTokens AS ts FROM documents),
         |s AS (SELECT doc_id, ${sqlShingles(3)} AS sh FROM t),
         |h AS (SELECT doc_id, list_transform(sh, tk -> ${sqlHash("tk")}) AS hs FROM s)
         |SELECT doc_id,
         |  $mhExprs
         |FROM h ORDER BY doc_id""".stripMargin),
    RowDef("dedup_minhash_pairs", { (s, dir) =>
      Dedup.minhashPairs(t(s, dir, "documents"), threshold = 0.3)
        .orderBy("id_a", "id_b")
    }, oracle = sqlMinhashPairs(n = 3, threshold = 0.3)),
    RowDef("dedup_simhash", { (s, dir) =>
      Dedup.simhash(t(s, dir, "documents")).orderBy("doc_id")
    }, oracle =
      s"""WITH t AS (SELECT doc_id, $sqlTokens AS ts FROM documents),
         |h AS (SELECT doc_id, list_transform(list_distinct(ts), tk -> ${sqlHash("tk")}) AS hs FROM t)
         |SELECT doc_id, $simhashTerms AS simhash
         |FROM h ORDER BY doc_id""".stripMargin),
    RowDef("dedup_simhash_pairs", { (s, dir) =>
      Dedup.simhashPairs(t(s, dir, "documents"), maxDist = 3)
        .orderBy("id_a", "id_b")
    }, oracle =
      s"""WITH t AS (SELECT doc_id, $sqlTokens AS ts FROM documents),
         |h AS (SELECT doc_id, list_transform(list_distinct(ts), tk -> ${sqlHash("tk")}) AS hs FROM t),
         |sig AS (SELECT doc_id, $simhashTerms AS simhash FROM h),
         |bands AS ($simhashBandSelects),
         |cand AS (SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b,
         |    x.simhash AS sh_a, y.simhash AS sh_b
         |  FROM bands x JOIN bands y ON x.band = y.band AND x.bkey = y.bkey AND x.doc_id < y.doc_id)
         |SELECT id_a, id_b, CAST(bit_count(xor(sh_a, sh_b)) AS BIGINT) AS hamming
         |FROM cand WHERE bit_count(xor(sh_a, sh_b)) <= 3
         |ORDER BY id_a, id_b""".stripMargin),
    RowDef("dedup_ngram_pairs", { (s, dir) =>
      // exact bigram jaccard over LSH-generated candidates (scale route;
      // never an all-pairs join within an unbounded block)
      Dedup.ngramJaccardPairs(t(s, dir, "documents"), n = 2, threshold = 0.5)
        .orderBy("id_a", "id_b")
    }, oracle = sqlMinhashPairs(n = 2, threshold = 0.5)),
    RowDef("dedup_embedding", { (s, dir) =>
      // sign-LSH bucket candidates + exact cosine verify. nBits=0 →
      // autoBits(n, 256): bucket count tracks the corpus so per-bucket
      // occupancy (and thus candidate work per row) stays ~constant at
      // ANY sf — the pinned nBits=6 this replaced measured 25.9× on the
      // 10× sf10 rehearsal (in-bucket quadratic growth). The oracle
      // replays the same integer bit-length formula in SQL.
      Dedup.embeddingNearDup(t(s, dir, "embeddings"), threshold = 0.3)
        .orderBy("id_a", "id_b")
    }, oracle =
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
         |ORDER BY id_a, id_b""".stripMargin),
    RowDef("dedup_prefix_pairs", { (s, dir) =>
      // the COMPLETE-recall route at the same (n=2, t=1/2) operating
      // point as dedup_ngram_pairs' LSH candidates: prefix filtering
      // guarantees every qualifying pair is found (superset asserted
      // in the unit suite); rational threshold arithmetic throughout
      Dedup.prefixJaccardPairs(t(s, dir, "documents"), n = 2, tNum = 1, tDen = 2)
        .orderBy("id_a", "id_b")
    }, oracle = sqlPrefixPairs,
    // the r14/r15 sf10 records skipped this row via SPARK_GRAFT_SKIP
    // (adversarial 931-bigram fixture: single-pass candidate spill
    // exceeds one-box disk); the chunked form IS its scale face —
    // 137.5 s at sf10 in the r15 record
    scale = Some(RowDef.Scale("documents", 16L << 20, prefixChunked))),
    RowDef("dedup_prefix_chunked", prefixChunked, oracle =
      // the wave-partitioned execution computes the IDENTICAL pair set
      // (candidate space partitioned exactly by shared prefix token),
      // so the chunked operator answers to the same oracle — that
      // identity is the point being certified
      sqlPrefixPairs),
    RowDef("dedup_pr_audit", { (s, dir) =>
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
    }, oracle = sqlPrAudit,
    // the audit's exchange is ~98% the exact route (measured, see the
    // gate row), so past the same threshold it runs the identical
    // aggregate over the CHUNKED exact route — same pair set, same
    // single row, peak spill divided by the wave count (this row read
    // 13x its NVMe record on a 556 MB/s disk in r15, pure spill class)
    scale = Some(RowDef.Scale("documents", 16L << 20, { (s, dir) =>
      val docs = t(s, dir, "documents")
      val passes = autoPasses(s, dir, "documents", 64L << 20)
      val out = Scratch.landing(s, s"dedup_pr_audit|$dir")
      // the audit output is ONE row — land it, reclaim the wave staging
      Scratch.using(s, "graft-praudit") { staging =>
        val exact = Dedup.prefixJaccardPairsChunked(docs, n = 3, tNum = 3,
          tDen = 10, passes = passes, stagingDir = staging)
        land(prAuditAgg(exact, Dedup.minhashPairs(docs, threshold = 0.3, n = 3)), out)
      }
    }))),
    RowDef("dedup_semantic", { (s, dir) =>
      // SemDeDup: within-cluster centroid-priority domination. The gate
      // pins cluster = fixture label so the oracle replay stays static;
      // the library-default coarse assignment is kmeansAssign with
      // autoCells (occupancy constant in corpus size) — the same
      // pinned-for-oracle / auto-scaled-in-library split as
      // dedup_embedding's nBits
      Dedup.semanticDedup(t(s, dir, "embeddings"), threshold = 0.25,
          clusterCol = "label")
        .orderBy("vec_id")
    }, oracle = {
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
    }),
    RowDef("dedup_semantic_trained", { (s, dir) =>
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
    }, oracle = {
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
    }),
    RowDef("decontam_ngram", { (s, dir) =>
      // exact benchmark decontamination: train docs (odd ids) sharing
      // any distinct 3-gram with the eval corpus (even ids); eval gram
      // set is broadcast — the train side never shuffles its text
      val docs = t(s, dir, "documents")
      Dedup.contaminationMatches(
          train = docs.filter(col("doc_id") % 2 === 1),
          eval = docs.filter(col("doc_id") % 2 === 0), n = 3)
        .orderBy("doc_id")
    }, oracle =
      s"""WITH t AS (SELECT doc_id, $sqlTokens AS ts FROM documents),
         |s AS (SELECT doc_id, ${sqlShingles(3)} AS sh FROM t),
         |ev AS (SELECT DISTINCT unnest(sh) AS g FROM s WHERE doc_id % 2 = 0),
         |tr AS (SELECT doc_id, unnest(sh) AS g FROM s WHERE doc_id % 2 = 1)
         |SELECT tr.doc_id, CAST(count(*) AS BIGINT) AS matched_ngrams
         |FROM tr JOIN ev USING (g)
         |GROUP BY tr.doc_id ORDER BY tr.doc_id""".stripMargin),
    RowDef("dedup_clusters", { (s, dir) =>
      // near-dup pairs → connected components → one canonical doc per
      // cluster (Borůvka hooking + contraction; O(log n) rounds)
      val docs = t(s, dir, "documents")
      Cluster.dedupClusters(docs, Dedup.minhashPairs(docs, threshold = 0.3))
        .orderBy("doc_id")
    }, oracle =
      // transitive closure of the near-dup pair graph; min reachable id =
      // component label (matches hash-min propagation exactly)
      s"""WITH RECURSIVE ${minhashPairCtes(n = 3, threshold = 0.3)},
         |e AS (SELECT id_a AS src, id_b AS dst FROM pairs
         |      UNION ALL SELECT id_b, id_a FROM pairs),
         |reach AS (
         |  SELECT doc_id AS id, doc_id AS lab FROM documents
         |  UNION
         |  SELECT e.dst AS id, r.lab FROM reach r JOIN e ON e.src = r.id)
         |SELECT id AS doc_id, MIN(lab) AS cluster_id,
         |  (MIN(lab) = id) AS is_canonical
         |FROM reach GROUP BY id ORDER BY doc_id""".stripMargin),
    RowDef("dedup_survivors", { (s, dir) =>
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
    }, oracle =
      // survivor replay: the dedup_clusters closure + per-cluster
      // argmax by (n_chars DESC, doc_id) — a different winner rule
      // than the engine's max_by(id, struct(score, -id)) formulation
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
         |FROM w ORDER BY doc_id""".stripMargin),
    RowDef("dedup_clusters_chain", { (s, dir) =>
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
    }, oracle =
      // same md5-ordered chain construction (28-bit 0x-substr bucket =
      // the HashBucket kernel), closed by the recursive CTE — a
      // different closure algorithm than the engine's contraction
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
        |FROM reach GROUP BY id ORDER BY doc_id""".stripMargin),
    RowDef("dedup_incremental", { (s, dir) =>
      // incoming batch (doc_id >= 250) deduped against the standing
      // corpus (doc_id < 250): cross-set LSH candidates + jaccard verify
      val docs = t(s, dir, "documents")
      Incremental.dedupAgainstCorpus(docs.filter(col("doc_id") < 250),
          docs.filter(col("doc_id") >= 250), threshold = 0.3)
        .orderBy("doc_id")
    }, oracle =
      // cross-set form: pairs over the FULL corpus restricted to
      // (corpus id < 250) × (incoming id >= 250) — band-key collision is
      // a pairwise relation, so full-set LSH pairs restricted to the
      // split equal the between-set candidates the operator generates
      s"""WITH ${minhashPairCtes(n = 3, threshold = 0.3)},
         |x AS (SELECT id_b AS doc_id, MIN(id_a) AS dup_of FROM pairs
         |      WHERE id_a < 250 AND id_b >= 250 GROUP BY id_b)
         |SELECT d.doc_id, x.dup_of IS NOT NULL AS is_dup, x.dup_of
         |FROM (SELECT doc_id FROM documents WHERE doc_id >= 250) d
         |LEFT JOIN x USING (doc_id)
         |ORDER BY doc_id""".stripMargin),
    RowDef("dedup_containment", { (s, dir) =>
      // asymmetric containment near-dup (boilerplate / subset-duplicate
      // detection): LSH candidates + exact |A∩B|/|A| both directions
      Dedup.containmentPairs(t(s, dir, "documents"), threshold = 0.5)
        .orderBy("id_a", "id_b")
    }, oracle =
      s"""WITH ${minhashCandCtes(n = 3)},
         |cont AS (SELECT id_a, id_b,
         |  CAST(len(list_intersect(ha.hsd, hb.hsd)) AS DOUBLE) / CAST(len(ha.hsd) AS DOUBLE) AS cont_a,
         |  CAST(len(list_intersect(ha.hsd, hb.hsd)) AS DOUBLE) / CAST(len(hb.hsd) AS DOUBLE) AS cont_b
         |FROM cand JOIN hd ha ON ha.doc_id = id_a JOIN hd hb ON hb.doc_id = id_b)
         |SELECT id_a, id_b, cont_a, cont_b FROM cont
         |WHERE greatest(cont_a, cont_b) >= 0.5 ORDER BY id_a, id_b""".stripMargin),
    RowDef("dedup_spans", { (s, dir) =>
      // per-doc duplicated 5-gram span fraction (boilerplate signal):
      // spans travel as 48-bit hashes, shared set = one partial
      // aggregate + semi join — per-doc cost, never per-pair
      Dedup.duplicatedSpanStats(t(s, dir, "documents"), n = 5)
        .orderBy("doc_id")
    }, oracle =
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
         |FROM tot LEFT JOIN dup ON dup.doc_id = tot.doc_id ORDER BY tot.doc_id""".stripMargin),
    RowDef("dedup_span_removal", { (s, dir) =>
      // the transform sibling: excise every cross-doc-shared 5-gram
      // span, keep the rest of each document (Lee et al. 2022 shape)
      Dedup.removeDuplicatedSpans(t(s, dir, "documents"), n = 5)
        .orderBy("doc_id")
    }, oracle =
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
         |FROM o ORDER BY doc_id""".stripMargin),
    RowDef("dedup_lines", { (s, dir) =>
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
    }, oracle =
      // same 8-token line synthesis, then the C4 keep-first rule: the
      // keeper of a line hash is its minimum (doc_id, pos) instance —
      // row_number over that total order replays the engine's min-
      // struct window exactly
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
         |FROM k GROUP BY doc_id ORDER BY doc_id""".stripMargin),
    RowDef("dedup_bloom", { (s, dir) =>
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
    }, oracle = sqlBloomNovel),
  )
}
