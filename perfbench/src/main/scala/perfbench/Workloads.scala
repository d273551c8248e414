package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry

/** The rows each workload runs. Every workload reads the bundled sf0.01
  * fixtures. A run times at least `minPasses` passes over the rows, so the
  * tail percentile is taken over a fixed number of samples. The first row
  * is the one each set-up runs in its fresh session. */
object Workloads {

  final case class Workload(name: String, minPasses: Int, rows: Seq[String])

  val all: Seq[Workload] = Seq(
    // One row from each of eight relational families: per-row planning
    // and scheduling dominate, scans and shuffles are small.
    Workload("short_rows", 5, Seq(
      "arith_cmp", "by_sum", "dt_extract", "join_inner", "red_var_std", "set_union",
      "sort_head", "win_rank")),
    // Driver-side loops: three stateful streams that land parquet, and a
    // connected-components loop over candidate pairs that checkpoints every
    // round. These are the cheapest rows of their kinds, about 1 s each,
    // and six passes give 24 samples, so the tail is p58: the run stays
    // about a minute long.
    Workload("loops", 6, Seq(
      "stream_bloom_novel", "stream_anomaly", "stream_ewma", "dedup_clusters")))

  def byName(name: String): Workload =
    all.find(_.name == name).getOrElse(throw new IllegalArgumentException(
      s"unknown workload '$name'; known: ${all.map(_.name).mkString(", ")}"))

  type Row = (SparkSession, String) => DataFrame

  /** The public entry point a row runs through: its file-source face for
    * stream rows (as graft.Bench times them), else its registered query.
    * A row missing from the registry is an error, never a skipped row. */
  def resolve(names: Seq[String]): Seq[(String, Row)] = {
    val queries = SparkEntry.queries
    val faces = SparkEntry.benchFaces
    names.map { n =>
      val q = queries.getOrElse(n, throw new NoSuchElementException(
        s"row '$n' is not in SparkEntry.queries"))
      n -> faces.getOrElse(n, q)
    }
  }
}
