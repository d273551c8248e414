package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{BitwiseCount, BitwiseXor, Cast, Conv, Expression, ExpressionInfo, Literal, Md5, RegExpReplace, Remainder, Size, StringSplit, StringTrim, Substring}
import org.apache.spark.sql.types.{BinaryType, LongType, StringType}

import graft.plans._

/** SQL surface for the native kernels (SURVEY §7.3 extension path):
  * registered either per-cluster via
  * `--conf spark.sql.extensions=graft.GraftExtensions` (injectFunction)
  * or on a live session with [[GraftFunctions.register]] — after which
  * `spark.sql("SELECT dot_product(a, b) ...")` plans the same
  * codegen'd expressions the Scala API uses.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftFunctions.all.foreach { case (name, info, builder) =>
      ext.injectFunction((FunctionIdentifier(name), info, builder))
    }
}

object GraftFunctions {

  private def intArg(e: Expression, fn: String): Int = e match {
    case Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(
      s"$fn: literal integer argument expected, got $other")
  }

  /** (name, info, builder) for every SQL-exposed kernel. */
  val all: Seq[(String, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    // a name for Spark's own bit_count(a ^ b), the form the operators use
    ("hamming_distance",
      new ExpressionInfo(classOf[BitwiseCount].getName, "hamming_distance"),
      (es: Seq[Expression]) => Cast(BitwiseCount(BitwiseXor(es(0), es(1))), LongType)),
    ("dot_product",
      new ExpressionInfo(classOf[DotProduct].getName, "dot_product"),
      (es: Seq[Expression]) => DotProduct(es(0), es(1))),
    ("cosine_similarity",
      new ExpressionInfo(classOf[CosineSimilarity].getName, "cosine_similarity"),
      (es: Seq[Expression]) => CosineSimilarity(es(0), es(1))),
    ("shingles",
      new ExpressionInfo(classOf[ShingleArray].getName, "shingles"),
      (es: Seq[Expression]) => ShingleArray(es(0), intArg(es(1), "shingles"))),
    ("minhash_signature",
      new ExpressionInfo(classOf[MinHashSignature].getName, "minhash_signature"),
      (es: Seq[Expression]) => MinHashSignature(es(0), intArg(es(1), "minhash_signature"))),
    ("simhash_signature",
      new ExpressionInfo(classOf[SimHashSignature].getName, "simhash_signature"),
      (es: Seq[Expression]) =>
        SimHashSignature(es(0),
          if (es.size > 1) intArg(es(1), "simhash_signature")
          else graft.operators.Dedup.SimhashBits)),
    ("normalized_md5",
      new ExpressionInfo(classOf[NormalizedMd5].getName, "normalized_md5"),
      (es: Seq[Expression]) => NormalizedMd5(es(0))),
    ("repetition_stats",
      new ExpressionInfo(classOf[RepetitionStats].getName, "repetition_stats"),
      (es: Seq[Expression]) => RepetitionStats(es(0))),
    // aggregate: the analyzer wraps a bare AggregateFunction in
    // AggregateExpression, same as Spark's own registry builders
    ("heavy_hitters",
      new ExpressionInfo(classOf[HeavyHitters].getName, "heavy_hitters"),
      (es: Seq[Expression]) =>
        HeavyHitters(Cast(es(0), StringType), intArg(es(1), "heavy_hitters"))),
    // compositions (not native kernels) exposed through the same SQL
    // surface as raw catalyst trees — the registry builder must return
    // analyzable Expressions, so these mirror the Column formulations in
    // graft.functions/operators node for node
    ("scrub_pii",
      new ExpressionInfo("graft.functions.TextFunctions", "scrub_pii"),
      (es: Seq[Expression]) =>
        graft.functions.TextFunctions.PiiPatterns.foldLeft(es(0)) {
          case (e, (re, repl)) =>
            new RegExpReplace(e, Literal(re), Literal(repl))
        }),
    ("hash_bucket",
      new ExpressionInfo("graft.operators.Sampling", "hash_bucket"),
      (es: Seq[Expression]) => {
        val md5 = Md5(Cast(Cast(es(0), StringType), BinaryType))
        val conv = Conv(Substring(md5, Literal(1), Literal(7)), Literal(16), Literal(10))
        new Remainder(Cast(conv, LongType),
          Literal(intArg(es(1), "hash_bucket").toLong))
      }),
    ("token_count",
      new ExpressionInfo("graft.functions.TextFunctions", "token_count"),
      (es: Seq[Expression]) =>
        Cast(Size(StringSplit(StringTrim(es(0)), Literal("\\s+"), Literal(-1))), LongType)))

  /** register every kernel as a session function on a LIVE session (the
    * no-restart path; extensions config needs a fresh session).
    */
  def register(spark: SparkSession): Unit =
    all.foreach { case (name, _, builder) =>
      spark.sessionState.functionRegistry
        .createOrReplaceTempFunction(name, builder, "scala_udf")
    }
}
