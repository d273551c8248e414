package graft
package suite

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.operators.{Cluster, Incremental}
import Shared._

/** The incremental rows: upserts, schema evolution, forgetting, SCD2,
  * change data capture, diffs, aggregate refresh and incremental clusters. */
object IncRows {
  val rows: Seq[RowDef] = Seq(

    // ---- incremental refresh (MERGE primitives) + layout ----
    RowDef("inc_upsert", { (s, dir) =>
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
    }, oracle =
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
        |ORDER BY o_orderkey""".stripMargin),
    RowDef("inc_upsert_evolve", { (s, dir) =>
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
    }, oracle =
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
        |ORDER BY o_orderkey""".stripMargin),
    RowDef("inc_forget", { (s, dir) =>
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
    }, oracle =
      // independent five-way set formulation of the SCD2 merge (the
      // engine explodes per-row version arrays in one broadcast pass)
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
        |) ORDER BY table_name""".stripMargin),
    RowDef("inc_scd2_lookup", { (s, dir) =>
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
    }, oracle =
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
        |ORDER BY o_orderkey""".stripMargin),
    RowDef("inc_scd2", { (s, dir) =>
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
    }, oracle =
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
        |ORDER BY c_custkey, valid_from""".stripMargin),
    RowDef("inc_cdc", { (s, dir) =>
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
    }, oracle =
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
        |ORDER BY o_orderkey""".stripMargin),
    RowDef("inc_diff", { (s, dir) =>
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
    }, oracle =
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
        |WHERE op IS NOT NULL ORDER BY o_orderkey""".stripMargin),
    RowDef("inc_agg_refresh", { (s, dir) =>
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
    }, oracle =
      // INDEPENDENT formulation: the oracle recomputes the rollup from
      // ALL facts in one pass; the engine folds a maintained aggregate
      // with a batch. Agreement proves the incremental fold is exact.
      """SELECT o_orderstatus, COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin),
    RowDef("inc_clusters", { (s, dir) =>
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
    }, oracle =
      // from-scratch closure over the UNION graph (old chains + new
      // links) — a different algorithm AND a different decomposition
      // than the engine's prev-labels-then-merge route
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
        |FROM reach GROUP BY id ORDER BY doc_id""".stripMargin),
  )
}
