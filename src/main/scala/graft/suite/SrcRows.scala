package graft
package suite

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.api.Table
import graft.operators.Multimodal
import Shared._

/** The source rows: file-format round trips, JDBC, partition pruning,
  * in-memory collections and the crawler. */
object SrcRows {
  val rows: Seq[RowDef] = Seq(
    RowDef("src_jdbc_roundtrip", { (s, dir) =>
      // JDBC source (compute/sql.py:1376-1392) via embedded Derby
      // Derby opens the database at a local path
      val db = new org.apache.hadoop.fs.Path(
        Scratch.landing(s, s"src_jdbc_roundtrip|$dir")).toUri.getPath
      val url = s"jdbc:derby:$db/derbydb;create=true"
      val props = new java.util.Properties()
      props.setProperty("driver", "org.apache.derby.jdbc.EmbeddedDriver")
      t(s, dir, "nation")
        .select(col("n_nationkey").cast(IntegerType), col("n_name"),
          col("n_regionkey").cast(IntegerType))
        .write.mode("overwrite").jdbc(url, "nation_jdbc", props)
      Table.dataJdbc(s, url, "nation_jdbc", props).df
        .orderBy("n_nationkey")
    }, oracle =
      "SELECT n_nationkey, n_name, n_regionkey FROM nation ORDER BY n_nationkey"),
    RowDef("src_iterable", { (s, dir) =>
      // Iterables source (§2.1): a driver-local Seq as a first-class
      // table — tiny reference data (here a priority ranking) belongs
      // inline + broadcast, never in a file
      import s.implicits._
      val prio = Seq(
        ("1-URGENT", 1), ("2-HIGH", 2), ("3-MEDIUM", 3),
        ("4-NOT SPECIFIED", 4), ("5-LOW", 5))
        .toDF("o_orderpriority", "prio_rank")
      t(s, dir, "orders")
        .groupBy(col("o_orderpriority")).agg(count(lit(1)).as("n"))
        .join(broadcast(prio), Seq("o_orderpriority"))
        .select(col("o_orderpriority"), col("prio_rank"), col("n"))
        .orderBy("prio_rank")
    }, oracle =
      """WITH p(o_orderpriority, prio_rank) AS (VALUES
        |  ('1-URGENT', 1), ('2-HIGH', 2), ('3-MEDIUM', 3),
        |  ('4-NOT SPECIFIED', 4), ('5-LOW', 5)),
        |a AS (SELECT o_orderpriority, COUNT(*) AS n FROM orders GROUP BY 1)
        |SELECT a.o_orderpriority, p.prio_rank, a.n
        |FROM a JOIN p ON a.o_orderpriority = p.o_orderpriority
        |ORDER BY prio_rank""".stripMargin),

    // ---- sources: round-trips through other formats (§2.1) ----
    RowDef("src_csv_roundtrip", { (s, dir) =>
      val out = Scratch.landing(s, s"src_csv_roundtrip|$dir")
      t(s, dir, "region").write.mode("overwrite").option("header", "true").csv(out)
      graft.api.Table.data(s, out + "/part-00000*.csv").df
        .select(col("r_regionkey").cast(IntegerType), col("r_name"))
        .orderBy("r_regionkey")
    }, oracle =
      "SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey"),
    RowDef("src_json_roundtrip", { (s, dir) =>
      val out = Scratch.landing(s, s"src_json_roundtrip|$dir")
      t(s, dir, "nation").write.mode("overwrite").json(out)
      s.read.json(out)
        .select(col("n_nationkey").cast(IntegerType), col("n_name"),
          col("n_regionkey").cast(IntegerType))
        .orderBy("n_nationkey")
    }, oracle =
      "SELECT n_nationkey, n_name, n_regionkey FROM nation ORDER BY n_nationkey"),
    RowDef("src_variant_json", { (s, dir) =>
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
    }, oracle =
      """WITH j AS (SELECT n_nationkey,
        |  '{"k": ' || n_nationkey || ', "name": "' || n_name || '", "region": {"id": ' || n_regionkey || '}}' AS js
        |  FROM nation)
        |SELECT n_nationkey, CAST(js->>'$.k' AS BIGINT) AS k, js->>'$.name' AS name,
        |  CAST(js->>'$.region.id' AS BIGINT) AS region_id
        |FROM j ORDER BY n_nationkey""".stripMargin),
    RowDef("src_orc_roundtrip", { (s, dir) =>
      val out = Scratch.landing(s, s"src_orc_roundtrip|$dir")
      t(s, dir, "supplier").write.mode("overwrite").orc(out)
      s.read.orc(out).orderBy("s_suppkey")
    }, oracle =
      "SELECT s_suppkey, s_name, s_nationkey, s_acctbal FROM supplier ORDER BY s_suppkey"),
    RowDef("src_txt_roundtrip", { (s, dir) =>
      // plain-text lines: the rawest source format (one string column)
      val out = Scratch.landing(s, s"src_txt_roundtrip|$dir")
      t(s, dir, "region").select(col("r_name")).write.mode("overwrite").text(out)
      graft.api.Table.data(s, out + "/part-*.txt").df
        .select(col("value").as("r_name")).orderBy("r_name")
    }, oracle =
      "SELECT r_name FROM region ORDER BY r_name"),
    RowDef("src_partition_prune", { (s, dir) =>
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
    }, oracle =
      """SELECT count(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders WHERE o_orderpriority = '1-URGENT'""".stripMargin),
    RowDef("src_gzip_roundtrip", { (s, dir) =>
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
    }, oracle =
      "SELECT r_name FROM region ORDER BY r_name"),
    RowDef("src_binary_roundtrip", { (s, dir) =>
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
    }, oracle =
      // the engine decodes REAL PNG files read back through binaryFile;
      // the oracle recomputes the synthesized dimensions from the key
      """SELECT CAST(n_nationkey AS BIGINT) AS media_id,
        |  CAST(n_nationkey % 31 + 1 AS BIGINT) AS width,
        |  CAST(n_nationkey % 17 + 1 AS BIGINT) AS height,
        |  CAST(3 AS BIGINT) AS channels
        |FROM nation ORDER BY media_id""".stripMargin),
    RowDef("src_spider", { (s, dir) =>
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
    }, oracle =
      // spider: formats are the spec (the fixture writes them); the
      // column counts are derived INDEPENDENTLY from information_schema
      // over the registered views, not from the spidered files
      """SELECT 'nation' AS dataset, 'json' AS format,
        |  (SELECT CAST(count(*) AS BIGINT) FROM information_schema.columns WHERE table_name = 'nation') AS n_cols
        |UNION ALL SELECT 'region', 'csv',
        |  (SELECT CAST(count(*) AS BIGINT) FROM information_schema.columns WHERE table_name = 'region')
        |UNION ALL SELECT 'supplier', 'parquet',
        |  (SELECT CAST(count(*) AS BIGINT) FROM information_schema.columns WHERE table_name = 'supplier')
        |ORDER BY dataset""".stripMargin),
    RowDef("src_xml_roundtrip", { (s, dir) =>
      // Spark 4 ships XML as a CORE data source (the former spark-xml
      // package): one <ROW> element per record. Numbers infer back as
      // long, so cast to the parquet schema like the JSON roundtrip.
      val out = Scratch.landing(s, s"src_xml_roundtrip|$dir")
      t(s, dir, "nation").write.mode("overwrite").option("rowTag", "ROW").xml(out)
      graft.api.Table.data(s, out + "/part-*.xml").df
        .select(col("n_nationkey").cast(IntegerType), col("n_name"),
          col("n_regionkey").cast(IntegerType))
        .orderBy("n_nationkey")
    }, oracle =
      "SELECT n_nationkey, n_name, n_regionkey FROM nation ORDER BY n_nationkey"),
  )
}
