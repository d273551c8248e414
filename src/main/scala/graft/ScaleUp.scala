package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Fixture scale-up for the sf1 rehearsal (VERDICT r7 #2): replicates the
  * read-only driver fixtures N× with key shifts that preserve referential
  * integrity (lineitem→orders/part/supplier, orders→customer), so every
  * gate query runs unmodified against the scaled directory.
  *
  * Replication is workload-faithful, not naive: identical copies of
  * `documents`/`embeddings` would hand the dedup/similarity operators a
  * quadratic explosion of cross-replica near-duplicate pairs that no real
  * corpus has. Instead each replica k>0 gets
  *  - a disjoint token space for `text` (every token suffixed `zz<k>`) —
  *    Jaccard/MinHash/SimHash structure WITHIN a replica is exactly the
  *    original's, while cross-replica similarity collapses to ~0;
  *  - a rotated `embedding` (circular shift by (k*7) mod dim) — rotation
  *    is orthogonal, so all within-replica cosines (cluster structure,
  *    near-dup pairs) are preserved bit-for-bit while cross-replica
  *    cosines decorrelate.
  * `events` shifts `user_id`, modelling more users over the same time
  * range — per-user session/sort sizes stay constant, group count grows,
  * which is how a real event stream scales.
  *
  * `events.ts` passes through untouched in whatever physical type the
  * input fixture carries (raw-nanos INT64 or µs TIMESTAMP_NTZ) —
  * [[Tables]] dispatches on the loaded type either way.
  *
  * Usage: runMain graft.ScaleUp <inDir> <outDir> <factor>
  */
object ScaleUp {
  private val Stride = 1000000000L // > any sf0.1 key; replica k adds k*Stride

  def main(args: Array[String]): Unit = {
    val Array(inDir, outDir, factorS) = args
    val factor = factorS.toInt
    val cpus = Session.defaultCpus
    val spark = Session.local(cpus)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")

    // source fixtures are single small parquet files = ONE input split;
    // without a spread the factor-N crossJoin generates N x |table| rows
    // in a single task (measured: the factor-300 build ran one core).
    // Round-robin the source across the worker count first so replica
    // generation parallelizes; replica writes re-partition anyway.
    def raw(name: String): DataFrame =
      spark.read.parquet(s"$inDir/$name.parquet").repartition(cpus)
    // replica index column k = 0..factor-1; k=0 is the untouched original
    def rep(df: DataFrame): DataFrame =
      df.crossJoin(broadcast(spark.range(factor.toLong).toDF("k")))
    def shifted(c: String) = (col(c) + col("k") * Stride).as(c)
    def write(df: DataFrame, name: String, parts: Int): Unit = {
      df.repartition(parts).write.mode("overwrite").parquet(s"$outDir/$name.parquet")
      println(s"[scaleup] $name done")
    }

    // fixed dimensions: nation/region don't scale in TPC-H either
    write(raw("region"), "region", 1)
    write(raw("nation"), "nation", 1)

    // names are regenerated from the SHIFTED key (TPC-H's own format):
    // replicating c_name verbatim would give every name 10 identical
    // twins, and edit-distance dedup (fuzzyPairs) would see a quadratic
    // cross-replica pair explosion no real customer table has — the same
    // reasoning as the disjoint token spaces for `documents` below. With
    // regenerated names each replica keeps the original's distance-1
    // digit-neighbor structure and cross-replica pairs stay ~constant
    // per row (they differ in the replica digit only).
    write(rep(raw("customer")).select(
      shifted("c_custkey"),
      format_string("Customer#%09d", col("c_custkey") + col("k") * Stride).as("c_name"),
      col("c_nationkey"), col("c_acctbal"), col("c_mktsegment")), "customer", 4)

    write(rep(raw("supplier")).select(
      shifted("s_suppkey"),
      format_string("Supplier#%09d", col("s_suppkey") + col("k") * Stride).as("s_name"),
      col("s_nationkey"), col("s_acctbal")), "supplier", 4)

    write(rep(raw("part")).select(
      shifted("p_partkey"), col("p_name"), col("p_brand"), col("p_type"),
      col("p_size"), col("p_retailprice")), "part", 4)

    write(rep(raw("orders")).select(
      shifted("o_orderkey"), shifted("o_custkey"), col("o_orderstatus"),
      col("o_totalprice"), col("o_orderdate"), col("o_orderpriority")),
      "orders", 8)

    write(rep(raw("lineitem")).select(
      shifted("l_orderkey"), shifted("l_partkey"), shifted("l_suppkey"),
      col("l_linenumber"), col("l_quantity"), col("l_extendedprice"),
      col("l_discount"), col("l_tax"), col("l_returnflag"),
      col("l_linestatus"), col("l_shipdate")), "lineitem", 32)

    // ts stays a raw nanos LongType end-to-end (see scaladoc)
    write(rep(raw("events")).select(
      shifted("event_id"), col("ts"), shifted("user_id"),
      col("event_type"), col("value"), col("props")), "events", 16)

    val docText = when(col("k") === 0, col("text")).otherwise(
      array_join(
        transform(split(col("text"), " "), t => concat(t, lit("zz"), col("k"))),
        " "))
    write(rep(raw("documents")).select(
      shifted("doc_id"), docText.as("text"), col("lang"), col("source"))
      .withColumn("n_chars", length(col("text")).cast("bigint"))
      .select("doc_id", "text", "lang", "source", "n_chars"), "documents", 8)

    val dim = raw("embeddings").selectExpr("max(size(embedding))")
      .collect()(0).getInt(0)
    val rot = pmod(col("k") * 7, lit(dim)).cast("int")
    val rotated = when(col("k") === 0, col("embedding")).otherwise(
      concat(slice(col("embedding"), rot + 1, lit(dim) - rot),
             slice(col("embedding"), lit(1), rot)))
    write(rep(raw("embeddings")).select(
      shifted("vec_id"), rotated.as("embedding"), col("label")),
      "embeddings", 8)

    spark.stop()
  }
}
