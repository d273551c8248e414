package graft
package suite

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One row of the operator suite, defined once: `build` makes its gate
  * form from a fixture dir, `oracle` is the DuckDB SQL whose result the
  * gate must equal hash for hash (same table names, same output column
  * names, same total ORDER BY), `bench` is the operator face a timed run
  * substitutes for a gate that is a correctness harness, and `scale` is
  * the bounded-footprint form a timed run substitutes past an input
  * size. Verify runs only `build`; [[Rows.form]] picks the face. */
final case class RowDef(name: String, build: RowDef.Build, oracle: String,
    bench: Option[RowDef.Build] = None, scale: Option[RowDef.Scale] = None)

object RowDef {
  type Build = (SparkSession, String) => DataFrame

  /** Scale-face auto-selection (VERDICT r15 #5): rows whose single-pass
    * form is exact but whose one-box execution footprint has a
    * documented ceiling run their bounded-footprint CHUNKED sibling
    * past a disclosed input size — selected from the DATA (`table`'s
    * on-disk bytes past `bytes`), not from a skip env var, so a
    * full-scale record covers all rows with `skipped: []` and the
    * substitution is reported in the JSON's "scale_faces" list exactly
    * like the stream faces. The sibling is certified result-identical
    * by the equivalence unit suite (identical pair set at ANY wave
    * count) and shares the single-pass row's oracle. */
  final case class Scale(table: String, bytes: Long, build: Build)
}

/** Every row of the suite, family by family. */
object Suite {
  lazy val rows: Seq[RowDef] = unique(Seq(TpchRows.rows, RelationalRows.rows,
    ExprRows.rows, RedRows.rows, SrcRows.rows, TextRows.rows, EvRows.rows,
    EvalRows.rows, FeatRows.rows, CurationRows.rows, DedupRows.rows,
    IncRows.rows, SimRows.rows, MmRows.rows, GraphRows.rows,
    StreamRows.rows).flatten)

  /** `rows`, failing on a name that more than one of them carries. */
  def unique(rows: Seq[RowDef]): Seq[RowDef] = {
    val twice = rows.groupBy(_.name).collect { case (n, rs) if rs.size > 1 => n }
    require(twice.isEmpty, s"rows defined twice: ${twice.toSeq.sorted.mkString(", ")}")
    rows
  }
}
