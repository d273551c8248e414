package perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Row count plus an order-independent digest of a result, computed in
  * one action that reads every output column.
  *
  * Each row is hashed with xxhash64 over normalised columns and the
  * hashes are summed as DECIMAL(38,0): exact, order-independent, and
  * safe from ANSI overflow, which a LONG sum of 64-bit hashes would hit.
  * Floating-point values are rounded to ten significant digits before
  * hashing, because sums taken in shuffle order can differ in the last
  * bits between runs; -0.0 hashes as 0.0. Maps are hashed as sorted entry arrays. */
object Digest {

  final case class Result(rows: Long, digest: String)

  private def normalise(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType =>
      // d rounded to ten significant digits: rint(d / p) * p with p the
      // power of ten nine digits below d's leading digit.
      val d = c.cast(DoubleType)
      val p = pow(lit(10.0), floor(log10(abs(d))) - 9)
      when(d === 0.0, lit(0.0))
        .when(isnan(d) || abs(d) === Double.PositiveInfinity, d)
        .otherwise(rint(d / p) * p)
    case ArrayType(et, _) => transform(c, x => normalise(x, et))
    case StructType(fields) =>
      when(c.isNull, lit(null)).otherwise(struct(fields.toSeq.map(f =>
        normalise(c.getField(f.name), f.dataType).as(f.name)): _*))
    case MapType(kt, vt, _) =>
      array_sort(transform(map_entries(c), e => struct(
        normalise(e.getField("key"), kt).as("k"),
        normalise(e.getField("value"), vt).as("v"))))
    case _: VariantType => c.cast(StringType)
    case _ => c
  }

  /** The (count, digest) of `df` in one Spark action. Columns are
    * renamed by position first, so duplicate output names are fine. */
  def of(df: DataFrame): Result = {
    val types = df.schema.fields.map(_.dataType)
    val flat = df.toDF(types.indices.map(i => s"c$i"): _*)
    val hashed = xxhash64(types.indices.map(i => normalise(col(s"c$i"), types(i))): _*)
    val r = flat.select(hashed.cast(DecimalType(38, 0)).as("h"))
      .agg(count(lit(1)), sum(col("h"))).head()
    Result(r.getLong(0), if (r.isNullAt(1)) "0" else r.getDecimal(1).toPlainString)
  }
}
