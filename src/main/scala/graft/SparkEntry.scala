package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.suite.Suite

/** The operator suite's entry points (SURVEY.md §7).
  *
  * Every operator from SURVEY §2 gets a named query plus (where
  * ANSI-SQL-expressible) a DuckDB oracle. Each row is one
  * [[graft.suite.RowDef]] in its family's file under `graft.suite`,
  * its Spark build beside its oracle SQL; the four maps here are views
  * over [[graft.suite.Suite.rows]], built once per JVM. Column names are
  * aliased identically on both sides; aggregates over doubles go through
  * DECIMAL(18,2/4) so both engines compute exact, order-independent sums
  * (then cast to double), and every query carries a total ORDER BY so row
  * order is deterministic.
  *
  * Coverage note: every operator with deterministic output has a row
  * with an oracle. Two operators are deliberately unit-tested only,
  * because no cross-engine oracle can exist for them:
  *  - Col.nuniqueApprox (HyperLogLog++) — the estimate depends on
  *    Spark's HLL hash/register layout; DuckDB's approx_count_distinct
  *    uses a different sketch. Unit-tested against exact nunique within
  *    the configured rsd.
  *  - Col.quantileApprox (Greenwald-Khanna) — same class of
  *    engine-specific sketch; unit-tested against the exact percentile.
  * misc_sample avoids the engine-RNG problem entirely: sampling is a
  * deterministic seed-keyed hash filter (Sampling.sampleHash), so its
  * oracle replays the same md5 bucket in SQL and the check is
  * hash-exact like every other query. Oracle-independence: the mirrored
  * part is the bucket FORMULA only — Spark's and DuckDB's md5 are
  * unrelated implementations, and CurationSpec ("sampleHash:
  * deterministic, rate-shaped, seed-independent draws") witnesses the
  * statistical contract without md5 at all. The full audit of
  * formula-mirroring oracles lives at [[graft.suite.Shared]]'s SQL
  * fragments.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q1_agg")(spark, "/root/testdata/sf0.001")

  /** Every row's gate form, by name. */
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    Suite.rows.map(r => r.name -> r.build).toMap

  /** Every row's DuckDB oracle SQL: same table names, same output column
    * names, same deterministic ORDER BY; decimal-exact aggregation
    * mirrors the Spark side. */
  lazy val oracleSql: Map[String, String] =
    Suite.rows.map(r => r.name -> r.oracle).toMap

  /** Bench-only operator faces for queries whose gate form is a
    * correctness harness with dominant feed cost (the stream_* rows). A
    * timed run ([[Rows.form]]) runs these INSTEAD of the gate form and
    * reports the substitution; Verify never uses them. */
  lazy val benchFaces: Map[String, (SparkSession, String) => DataFrame] =
    Suite.rows.flatMap(r => r.bench.map(r.name -> _)).toMap

  /** Size-triggered bounded-footprint substitutions for a timed run
    * ([[Rows.form]], see [[graft.suite.RowDef.Scale]]): (table sized
    * on, byte threshold, substitute). Verify never uses these — the
    * gate always runs the single-pass form. */
  lazy val scaleFaces
      : Map[String, (String, Long, (SparkSession, String) => DataFrame)] =
    Suite.rows.flatMap(r => r.scale.map(f => r.name -> ((f.table, f.bytes, f.build)))).toMap
}
