package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

/** The input-table resolution contract of [[Tables]]: resolved once per
  * session, a fresh-attribute-id copy per call, resolved again when the
  * file changes, never shared across sessions. */
class TablesSpec extends SparkSpec with org.scalatest.BeforeAndAfterAll {

  private lazy val tmp = java.nio.file.Files.createTempDirectory("graft-tables-spec").toFile

  override def afterAll(): Unit =
    try org.apache.commons.io.FileUtils.deleteQuietly(tmp) finally super.afterAll()

  private def analyzed(df: DataFrame) =
    df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]].queryExecution.analyzed

  private val tables = new AtomicInteger

  private def tempTable(): String = s"$tmp/t${tables.incrementAndGet()}.parquet"

  test("a repeated read in one session starts no Spark job") {
    // the listener sees resolution jobs: a first read of a new table runs one
    val path = tempTable()
    spark.range(10L).toDF("id").write.parquet(path)
    val (_, first) = jobsDuring(Tables.parquet(spark, path))
    assert(first >= 1)
    Tables(spark, sf, "orders")
    val (orders, again) = jobsDuring(Tables(spark, sf, "orders"))
    assert(again == 0)
    assert(orders.columns.contains("o_orderkey"))
  }

  test("two reads have disjoint attribute ids and self-join as two plain reads") {
    val a = Tables(spark, sf, "orders")
    val b = Tables(spark, sf, "orders")
    val ids = (df: DataFrame) => analyzed(df).output.map(_.exprId).toSet
    assert(ids(a).intersect(ids(b)).isEmpty)
    val path = s"$sf/orders.parquet"
    val (pa, pb) = (spark.read.parquet(path), spark.read.parquet(path))
    val expected = pa.join(pb, pa("o_orderkey") === pb("o_orderkey")).count()
    assert(expected > 0)
    assert(a.join(b, a("o_orderkey") === b("o_orderkey")).count() == expected)
  }

  test("a table rewritten at the same path is resolved again") {
    val path = tempTable()
    spark.range(3L).toDF("id").write.parquet(path)
    assert(Tables.parquet(spark, path).count() == 3L)
    spark.range(5L).selectExpr("id", "id * 2 AS twice")
      .write.mode("overwrite").parquet(path)
    val again = Tables.parquet(spark, path)
    assert(again.columns.toSeq == Seq("id", "twice"))
    assert(again.count() == 5L)
    assert(again.selectExpr("sum(twice)").head().getLong(0) == 20L)
  }

  test("a changed parquet read setting resolves the table again") {
    import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}
    // events.ts is TIMESTAMP(MICROS, adjusted=false) with no Spark schema
    // in the footer, so the setting decides its resolved type
    val path = s"$sf/events.parquet"
    val key = "spark.sql.parquet.inferTimestampNTZ.enabled"
    assert(Tables.parquet(spark, path).schema("ts").dataType == TimestampNTZType)
    spark.conf.set(key, "false")
    try assert(Tables.parquet(spark, path).schema("ts").dataType == TimestampType)
    finally spark.conf.unset(key)
    assert(Tables.parquet(spark, path).schema("ts").dataType == TimestampNTZType)
  }

  test("a second session resolves its own relation") {
    def owner(s: SparkSession): SparkSession =
      analyzed(Tables(s, sf, "orders")).collectFirst {
        case LogicalRelation(r: HadoopFsRelation, _, _, _, _) => r.sparkSession
      }.get
    val other = spark.newSession()
    assert(owner(spark) eq spark)
    assert(owner(other) eq other)
    assert(Tables(other, sf, "orders").count() == Tables(spark, sf, "orders").count())
  }
}
