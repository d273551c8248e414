package graft

import org.apache.spark.sql.{DataFrame, GraftBridge, SparkSession, classic}
import org.apache.spark.sql.catalyst.analysis.MultiInstanceRelation

/** Loader for the driver fixture tables (TESTDATA.md).
  *
  * One parquet file per table under `sfDir`. Reads are parquet file
  * relations so Catalyst gets native column pruning and predicate
  * pushdown into the scan — at 100 TB these tables would be
  * multi-file/partitioned directories and the same call still applies.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def apply(spark: SparkSession, sfDir: String, name: String): DataFrame =
    normalized(name, file(spark, sfDir, name))

  /** Fixture `name` as a file-source stream. Its schema is the session's
    * resolved batch relation's ([[parquet]]), so starting it reads no
    * footer, and `events.ts` is normalized as in [[apply]]. */
  def stream(spark: SparkSession, sfDir: String, name: String): DataFrame =
    normalized(name, spark.readStream.schema(file(spark, sfDir, name).schema)
      .parquet(s"$sfDir/$name.parque*"))

  private def file(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    parquet(spark, s"$sfDir/$name.parquet")
  }

  /** events.ts has shipped as BOTH parquet TIMESTAMP(NANOS) (older
    * driver fixtures; Spark rejects ns by default, so raw nanos are read
    * via nanosAsLong and integral-DIVed to us; `/` would round-trip
    * ~1.7e18 epochs through double past 2^53) and TIMESTAMP(MICROS,
    * isAdjustedToUTC=false) (current fixtures, read as TIMESTAMP_NTZ;
    * the session time zone is UTC, so casting to TimestampType keeps the
    * instants the ns path produced). Dispatch on the loaded type so
    * either vintage works, in a batch read or a stream. */
  private def normalized(name: String, df: DataFrame): DataFrame =
    if (name != "events") df
    else {
      import org.apache.spark.sql.functions.{col, expr}
      import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
      df.schema("ts").dataType match {
        case LongType => df.withColumn("ts", expr("timestamp_micros(ts DIV 1000)"))
        case TimestampNTZType => df.withColumn("ts", col("ts").cast(TimestampType))
        case _ => df
      }
    }

  /** Register every fixture as a temp view (for spark.sql use). */
  def registerAll(spark: SparkSession, sfDir: String): Unit =
    names.foreach(n => apply(spark, sfDir, n).createOrReplaceTempView(n))

  /** On-disk bytes of fixture `table` under `sfDir`, the size every
    * data-sized choice (scale faces, wave counts, stream state widths)
    * reads. A failed read throws. */
  def bytes(spark: SparkSession, sfDir: String, table: String): Long = {
    val p = new org.apache.hadoop.fs.Path(s"$sfDir/$table.parquet")
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).getContentSummary(p).getLength
  }

  /** `spark.read.parquet(path)`, resolved once per session.
    *
    * A fresh read lists the path and runs a Spark job over the parquet
    * footers to infer the schema. Hundreds of registered queries read
    * the same few tables, so that job was a fixed cost in every query's
    * build. Here the first call in a session resolves the file relation
    * and later calls reuse it:
    *  - every call returns a copy with FRESH attribute ids, so two reads
    *    of one table in one plan stay distinct relations and self-joins
    *    through `df("col")` resolve exactly as with two plain reads;
    *  - an entry is resolved again when the path's modification time or
    *    length changes (one `getFileStatus`, no job) or when a parquet
    *    read setting of the session changed since. A directory is
    *    checked by its own entry, whose mtime moves when files are added
    *    or removed (Spark's overwrite and append both do);
    *  - Spark Connect sessions, and paths that are not one existing file
    *    or directory (globs, missing paths), read as a plain
    *    `spark.read.parquet` every time;
    *  - entries of stopped sessions are dropped whenever a table is
    *    resolved, so a stopped session stays reachable only until the
    *    next session's first read. */
  def parquet(spark: SparkSession, path: String): DataFrame = spark match {
    case s: classic.SparkSession =>
      val p = new org.apache.hadoop.fs.Path(path)
      val status =
        try Some(p.getFileSystem(s.sparkContext.hadoopConfiguration).getFileStatus(p))
        catch { case _: java.io.FileNotFoundException => None }
      status.fold[DataFrame](s.read.parquet(path)) { st =>
        val settings = readSettings(s)
        val hit = resolved.get((spark, path))
        if (hit != null && hit.mtime == st.getModificationTime &&
            hit.length == st.getLen && hit.settings == settings)
          GraftBridge.freshInstance(s, hit.relation)
        else {
          resolved.keySet.removeIf(_._1.sparkContext.isStopped)
          val df = s.read.parquet(path)
          df.queryExecution.analyzed match {
            case r: MultiInstanceRelation => resolved.put((spark, path),
              Resolved(st.getModificationTime, st.getLen, settings, r))
            case _ => ()
          }
          df
        }
      }
    case _ => spark.read.parquet(path)
  }

  private final case class Resolved(mtime: Long, length: Long,
      settings: Map[String, String], relation: MultiInstanceRelation)

  private val resolved =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), Resolved]()

  /** The session settings that shape a parquet relation's resolved
    * schema (type mapping, schema merging, name matching). */
  private def readSettings(s: SparkSession): Map[String, String] =
    s.conf.getAll.filter { case (k, _) =>
      k.startsWith("spark.sql.parquet.") ||
        k.startsWith("spark.sql.legacy.parquet.") || k == "spark.sql.caseSensitive"
    }
}
