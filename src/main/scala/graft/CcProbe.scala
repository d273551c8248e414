package graft

import org.apache.spark.sql.SparkSession

/** Job-level attribution of one connectedComponents call (r18): a
  * permuted-id chain (the adversarial O(log n)-rounds shape) through
  * [[graft.operators.Cluster.connectedComponents]] under [[RunStats]],
  * printing every job's call site, so the per-round job floor can be
  * itemized instead of estimated. GRAFT_CC_N sets the chain length
  * (default 20000).
  */
object CcProbe {
  private[graft] def run(spark: SparkSession, sfDir: String): Unit = {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val n = sys.env.get("GRAFT_CC_N").map(_.toLong).getOrElse(20000L)
    // permuted chain: node ids are a fixed pseudorandom permutation so
    // min-id propagation cannot shortcut along monotone runs
    val perm = spark.range(n)
      .select(col("id"), xxhash64(col("id")).as("h"))
      .orderBy("h").select(col("id"))
      .as[Long].collect()
    val edges = (1 until n.toInt).map(i => (perm(i - 1), perm(i)))
      .toDF("src", "dst")
    val nodes = spark.range(n).toDF("id")
    val (nLabels, rec) = RunStats.measure(spark, "cc") {
      graft.operators.Cluster.connectedComponents(nodes, edges, maxIter = 40)
        .select(countDistinct(col("label"))).as[Long].head()
    }
    rec.jobs.foreach(j => println(s"[ccjob] ${j.id} stages=${j.stages} ${j.site}"))
    println(s"[ccprobe] n=$n components=$nLabels ${rec.columns}")
  }
}
