package graft
package suite

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.operators.Similarity
import Shared._

/** The similarity-search rows: exact and approximate nearest
  * neighbours (IVF, LSH, product quantization), recall audits, margin
  * mining, centroid classification and persisted indexes. */
object SimRows {
  val rows: Seq[RowDef] = Seq(

    // ---- similarity search ----
    RowDef("sim_bruteforce", { (s, dir) =>
      val emb = t(s, dir, "embeddings")
      Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 10), k = 5)
        .withColumn("rank", col("rank").cast(LongType))
        .orderBy("q_id", "rank")
    }, oracle =
      s"""WITH q AS (SELECT vec_id AS q_id, embedding AS qv FROM embeddings WHERE vec_id < 10),
         |c AS (SELECT vec_id AS c_id, embedding AS cv FROM embeddings),
         |scored AS (SELECT q_id, c_id, ${sqlCos("qv", "cv")} AS cos FROM q JOIN c ON q_id <> c_id),
         |r AS (SELECT q_id, c_id, cos, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id) AS rank FROM scored)
         |SELECT q_id, CAST(rank AS BIGINT) AS rank, c_id, cos FROM r WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin),
    RowDef("sim_ivf", { (s, dir) =>
      val emb = t(s, dir, "embeddings")
      Similarity.ivfTopK(emb, emb.filter(col("vec_id") < 10), k = 5, coarseCol = "label")
        .withColumn("rank", col("rank").cast(LongType))
        .orderBy("q_id", "rank")
    }, oracle =
      s"""WITH q AS (SELECT vec_id AS q_id, label AS q_blk, embedding AS qv FROM embeddings WHERE vec_id < 10),
         |c AS (SELECT vec_id AS c_id, label AS c_blk, embedding AS cv FROM embeddings),
         |scored AS (SELECT q_id, c_id, ${sqlCos("qv", "cv")} AS cos FROM q JOIN c ON q_blk = c_blk AND q_id <> c_id),
         |r AS (SELECT q_id, c_id, cos, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id) AS rank FROM scored)
         |SELECT q_id, CAST(rank AS BIGINT) AS rank, c_id, cos FROM r WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin),
    RowDef("sim_margin_mining", { (s, dir) =>
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
    }, oracle =
      // margin-mining replay: the same quantized-neighborhood-mass
      // arithmetic — cq = FLOOR(cos·2^20), per-endpoint top-4 sums as
      // exact int64, margin = one truncating integral division (DuckDB
      // // and Spark DIV both truncate toward zero; both operands are
      // positive by the cq>0 / mass>0 guards), argmax ties to lower y_id
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
         |WHERE rn = 1 AND margin_micro >= 1000000 ORDER BY x_id""".stripMargin),
    RowDef("sim_lsh", { (s, dir) => // ANN path; recall vs brute force unit-tested
      val emb = t(s, dir, "embeddings")
      // nBits pinned so the static oracle SQL replays the same 8
      // hyperplanes at any fixture size; the library default is the
      // corpus-count-scaled Similarity.autoBits (occupancy unit-tested)
      Similarity.lshTopK(emb, emb.filter(col("vec_id") < 10), k = 5, dim = 64,
          nBits = 8)
        .withColumn("rank", col("rank").cast(LongType))
        .orderBy("q_id", "rank")
    }, oracle =
      s"""WITH b AS (SELECT vec_id, embedding, ${sqlLshBucket("embedding", 64, 8)} AS bucket FROM embeddings),
         |q AS (SELECT vec_id AS q_id, embedding AS qv, bucket FROM b WHERE vec_id < 10),
         |c AS (SELECT vec_id AS c_id, embedding AS cv, bucket FROM b),
         |scored AS (SELECT q_id, c_id, ${sqlCos("qv", "cv")} AS cos
         |  FROM q JOIN c ON q.bucket = c.bucket AND q_id <> c_id),
         |r AS (SELECT q_id, c_id, cos, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id) AS rank FROM scored)
         |SELECT q_id, CAST(rank AS BIGINT) AS rank, c_id, cos FROM r WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin),
    RowDef("sim_lsh_probe", { (s, dir) => // multi-probe: Hamming-1 bucket expansion
      val emb = t(s, dir, "embeddings")
      Similarity.lshTopKProbe(emb, emb.filter(col("vec_id") < 10), k = 5, dim = 64,
          nBits = 8)
        .withColumn("rank", col("rank").cast(LongType))
        .orderBy("q_id", "rank")
    }, oracle = {
      val masks = (0L +: (0 until 8).map(i => 1L << i)).mkString("[", ", ", "]")
      s"""WITH b AS (SELECT vec_id, embedding, ${sqlLshBucket("embedding", 64, 8)} AS bucket FROM embeddings),
         |q AS (SELECT vec_id AS q_id, embedding AS qv, xor(bucket, m) AS bucket
         |  FROM b, unnest($masks) AS t(m) WHERE vec_id < 10),
         |c AS (SELECT vec_id AS c_id, embedding AS cv, bucket FROM b),
         |scored AS (SELECT q_id, c_id, ${sqlCos("qv", "cv")} AS cos
         |  FROM q JOIN c ON q.bucket = c.bucket AND q_id <> c_id),
         |r AS (SELECT q_id, c_id, cos, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id) AS rank FROM scored)
         |SELECT q_id, CAST(rank AS BIGINT) AS rank, c_id, cos FROM r WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin
    }),
    RowDef("sim_recall_audit", { (s, dir) =>
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
    }, oracle =
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
         |FROM kk LEFT JOIN hits ON kk.q_id = hits.q_id ORDER BY kk.q_id""".stripMargin),
    RowDef("sim_mutual_knn", { (s, dir) =>
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
    }, oracle =
      // mutual-kNN replay: (block, shard)-local exact cosine ranking —
      // shards = ceil(n/2048), the autoCells integer formula, md5
      // bucket per id (1 shard at the gate sf, so the subdivide is an
      // exact no-op here while the formula still replays) — top-5 both
      // directions, edge kept iff both ranks exist
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
         |WHERE f.q_id < f.c_id ORDER BY id_a, id_b""".stripMargin),
    RowDef("sim_centroid_classify", { (s, dir) =>
      // label-separability diagnostic: per-label integer centroids,
      // every vector classified to the nearest one, confusion matrix
      // out (quantized fit+predict replays exactly in the oracle)
      Similarity.centroidClassify(t(s, dir, "embeddings"), dim = 64)
        .orderBy("label", "predicted")
    }, oracle = {
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
    }),
    RowDef("sim_ivf_trained", { (s, dir) =>
      // IVF over a TRAINED coarse quantizer: deterministic integer
      // k-means (oracle replays the same Lloyd's iterations in SQL)
      val emb = t(s, dir, "embeddings")
      val assign = Similarity.kmeansAssign(emb, k = 4, iters = 2, dim = 64)
      val emb2 = emb.join(assign, "vec_id")
      Similarity.ivfTopK(emb2, emb2.filter(col("vec_id") < 10), k = 5, coarseCol = "cid")
        .withColumn("rank", col("rank").cast(LongType))
        .orderBy("q_id", "rank")
    }, oracle = {
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
    }),
    RowDef("sim_index_persist", { (s, dir) =>
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
    }, oracle =
      s"""WITH ${pqSqlCtes(m = 4, sub = 16, ksub = 16)}
         |SELECT q_id, CAST(rank AS BIGINT) AS rank, c_id, CAST(adist AS BIGINT) AS adist FROM r WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin),
    RowDef("sim_index_append", { (s, dir) =>
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
    }, oracle =
      // append replay: the same PQ chain with TRAINING (init + Lloyd's
      // rounds) restricted to the base corpus while encoding and the
      // ADC scan run over all vectors — append-without-retrain answers
      // must equal encode-everything-with-the-base-model
      s"""WITH ${pqSqlCtes(m = 4, sub = 16, ksub = 16, trainWhere = "vec_id % 3 != 0")}
         |SELECT q_id, CAST(rank AS BIGINT) AS rank, c_id, CAST(adist AS BIGINT) AS adist FROM r WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin),
    RowDef("sim_pq", { (s, dir) =>
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
    }, oracle =
      s"""WITH ${pqSqlCtes(m = 4, sub = 16, ksub = 16)}
         |SELECT q_id, CAST(rank AS BIGINT) AS rank, c_id, CAST(adist AS BIGINT) AS adist FROM r WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin),
    RowDef("sim_pq_refined", { (s, dir) =>
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
    }, oracle =
      s"""WITH ${pqSqlCtes(m = 4, sub = 16, ksub = 16)},
         |shortlist AS (SELECT q_id, c_id FROM r WHERE rank <= 40),
         |rr AS (SELECT s.q_id, s.c_id, ${sqlCos("qe.embedding", "ce.embedding")} AS cos
         |  FROM shortlist s JOIN embeddings qe ON qe.vec_id = s.q_id
         |  JOIN embeddings ce ON ce.vec_id = s.c_id),
         |r2 AS (SELECT q_id, c_id, cos, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id) AS rank FROM rr)
         |SELECT q_id, CAST(rank AS BIGINT) AS rank, c_id, cos FROM r2 WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin),
    RowDef("sim_ivf_probe", { (s, dir) =>
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
    }, oracle = {
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
    }),
  )
}
