package graft

import scala.util.Try

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one row step: the only code that knows how a row of
  * [[SparkEntry.queries]] is run. Bench, Verify, MiniBench and PlanDump
  * each loop over [[run]] with their own action. The step owns five
  * decisions:
  *  - which rows: [[select]] is the one reader of SPARK_GRAFT_ONLY and
  *    SPARK_GRAFT_SKIP;
  *  - which face: [[form]];
  *  - row hygiene: before each row the cache is cleared and every
  *    persistent RDD unpersisted, outside the measured region: blocks
  *    that failed rows stranded once read late rows of an sf10 suite at
  *    2-4x their isolated times;
  *  - measurement: build and action run inside one [[RunStats.measure]]
  *    under the job description `<label>: <row>`, and the record is
  *    printed on stderr;
  *  - failure policy: a NonFatal error is that row's failure, printed
  *    as `[<label>] <row> FAILED: <msg>`; a fatal one propagates.
  */
object Rows {
  type Build = (SparkSession, String) => DataFrame

  /** The form a row runs as: its gate form (the one the oracle checks),
    * its bench face or its scale face. */
  sealed trait Face
  object Face {
    case object Gate extends Face
    case object Bench extends Face
    case object Scale extends Face
  }

  /** One row's run: the face it ran as (None when choosing it failed),
    * the action's value or failure, and what the run did. */
  final case class Result[T](row: String, face: Option[Face], value: Try[T],
      record: RunStats.Record) {
    /** The failure's message, if the row failed. */
    def failure: Option[String] = value.failed.toOption.map(message)
  }

  /** A comma-separated row list, as SPARK_GRAFT_ONLY or a command line
    * gives it. */
  def split(list: String): Seq[String] =
    list.split(",").map(_.trim).filter(_.nonEmpty).toSeq

  /** SPARK_GRAFT_ONLY's rows, if set. */
  def only: Option[Seq[String]] = sys.env.get("SPARK_GRAFT_ONLY").map(split)

  /** SPARK_GRAFT_SKIP's rows, sorted: no selection runs them. */
  def skipped: Seq[String] =
    sys.env.get("SPARK_GRAFT_SKIP").map(split).getOrElse(Nil).distinct.sorted

  /** The rows to run: `listed` in its order, a repeat running again, or
    * with no list every row, sorted; minus [[skipped]], which is logged.
    * An unknown name fails here, before any row runs. */
  def select(listed: Option[Seq[String]] = only): Seq[String] = {
    val all = SparkEntry.queries.keySet
    val skip = skipped
    val unknown = (listed.getOrElse(Nil) ++ skip).filterNot(all).distinct
    require(unknown.isEmpty, s"unknown rows: ${unknown.mkString(", ")}")
    if (skip.nonEmpty)
      System.err.println(s"[rows] SKIPPING ${skip.size} rows by request: ${skip.mkString(", ")}")
    listed.getOrElse(all.toSeq.sorted).filterNot(skip.contains)
  }

  /** The form `row` runs as. A timed run takes the row's scale face when
    * its input table is over the face's threshold, else its bench face,
    * else the gate form; an untimed run always takes the gate form. A
    * failed size read propagates. */
  def form(spark: SparkSession, sfDir: String, row: String, timed: Boolean): (Face, Build) = {
    val scale = if (!timed) None else SparkEntry.scaleFaces.get(row).collect {
      case (table, threshold, build) if Tables.bytes(spark, sfDir, table) > threshold =>
        Face.Scale -> build
    }
    val bench = if (!timed) None else SparkEntry.benchFaces.get(row).map(Face.Bench -> _)
    scale.orElse(bench).getOrElse(Face.Gate -> SparkEntry.queries(row))
  }

  /** Run `row` once: clear the cache and unpersist every persistent RDD,
    * then build its [[form]] and apply `action` to it inside one
    * measurement. */
  def run[T](spark: SparkSession, sfDir: String, label: String, row: String,
      timed: Boolean = false)(action: DataFrame => T): Result[T] = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
    val picked = Try(form(spark, sfDir, row, timed))
    val (value, rec) = RunStats.measure(spark, s"$label: $row") {
      picked.flatMap { case (_, build) => Try(action(build(spark, sfDir))) }
    }
    val r = Result(row, picked.toOption.map(_._1), value, rec)
    r.failure.foreach(msg => System.err.println(s"[$label] $row FAILED: $msg"))
    System.err.println(s"[$label] $row face=${r.face.getOrElse("?")} ${rec.columns}")
    r
  }

  /** `s` as a JSON string literal: quote, backslash and every control
    * character escaped, so a record line always parses. */
  def json(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  private def message(e: Throwable): String =
    Option(e.getMessage).getOrElse(e.getClass.getName)
}
