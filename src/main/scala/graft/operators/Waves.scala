package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, GraftBridge, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType}

/** The staged-wave executor behind every chunked operator
  * ([[Graph.pagerankChunked]], [[Graph.labelPropagationChunked]],
  * [[Dedup.prefixJaccardPairsChunked]], [[Dedup.fuzzyPairsChunked]]):
  * the out-of-core shape that runs one operator's work as `passes`
  * sequential waves, each over ~1/passes of the volume.
  *
  *  - [[stage]] writes a frame as snappy parquet, partitioned by its
  *    wave `w = pmod(key, passes)` (a per-task partitioned write, no
  *    shuffle), so a wave's [[Staged.slice]] partition-prunes to its own
  *    `w=p` subtree: staged read I/O is one pass over the table at any
  *    wave count.
  *  - Every read of a staged dir carries the writer's schema, so it
  *    lists the dir on the driver and starts no schema-inference job.
  *  - [[run]] lands wave p under `w=p` of its output dir and then
  *    releases the wave's shuffle files SYNCHRONOUSLY
  *    (`GraftBridge.removeShuffles`): the ids that appeared during the
  *    wave are exactly its shuffles (waves run one at a time), and the
  *    wave's output is already landed, so nothing can re-read them.
  *    Peak shuffle/spill footprint is one wave's, as a guarantee, not a
  *    GC nudge.
  *  - [[retire]] deletes a staged dir through the path's own Hadoop
  *    file system, so a non-local staging dir (HDFS/S3) is reclaimed
  *    too instead of silently kept.
  *
  * The staging dir is caller-owned; a returned frame reads its staged
  * output lazily, so the dir must outlive the frame's consumption. */
private[graft] object Waves {

  /** A table staged under `dir`, read back with the writer's `schema`;
    * `parts` are its directory-partition columns (`w` first when the
    * table is staged by wave). */
  final case class Staged(spark: SparkSession, dir: String, schema: StructType,
                          parts: Seq[String]) {
    private def read: DataFrame = spark.read.schema(schema).parquet(dir)
    private val columns = schema.fieldNames.filterNot(parts.contains).map(col).toSeq

    /** Every row, in the writer's data columns. */
    def all: DataFrame = read.select(columns: _*)

    /** Wave p's rows (and those matching `where`, which may test the
      * other partition columns), pruned to their directories. */
    def slice(p: Int, where: Column = lit(true)): DataFrame =
      read.filter(col("w") === p && where).select(columns: _*)
  }

  /** Stage `df` under `dir` partitioned by `w = pmod(key, passes)`,
    * then by the columns `by`. */
  def stage(df: DataFrame, dir: String, key: Column, passes: Int,
            by: String*): Staged = {
    val keyed = df.withColumn("w", pmod(key, lit(passes.toLong)))
    keyed.write.mode("overwrite").partitionBy("w" +: by: _*).parquet(dir)
    Staged(df.sparkSession, dir, keyed.schema, "w" +: by)
  }

  /** Stage `df` under `dir` as one unpartitioned table. */
  def stage(df: DataFrame, dir: String): Staged = {
    df.write.mode("overwrite").parquet(dir)
    Staged(df.sparkSession, dir, df.schema, Nil)
  }

  /** Run waves `0 until passes` one after another: wave p's frame
    * lands under `dir/w=p`, then its shuffle files are released. */
  def run(spark: SparkSession, passes: Int, dir: String)(wave: Int => DataFrame): Staged = {
    require(passes >= 1, s"Waves.run: passes must be >= 1, got $passes")
    val schemas = (0 until passes).map { p =>
      val before = GraftBridge.activeShuffleIds(spark)
      val df = wave(p)
      df.write.mode("overwrite").parquet(s"$dir/w=$p")
      GraftBridge.removeShuffles(spark, GraftBridge.activeShuffleIds(spark) -- before)
      df.schema
    }
    Staged(spark, dir, schemas.head.add("w", LongType), Seq("w"))
  }

  /** Delete a staged table that nothing reads any more. */
  def retire(staged: Staged): Unit = {
    val p = new Path(staged.dir)
    p.getFileSystem(staged.spark.sparkContext.hadoopConfiguration).delete(p, true)
  }
}
