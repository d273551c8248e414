package graft

import org.apache.spark.sql.{Dataset, GraftBridge}
import org.apache.spark.sql.functions._

import graft.functions.Bpe
import graft.operators.{Cluster, Fixpoint, Graph, Similarity}

/** Checkpoint accounting of the iterative operators: after a result,
  * the only checkpoints left are the ones the result reads; after a
  * failure, none. */
class FixpointSpec extends SparkSpec {
  import spark.implicits._

  private def persisted: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** The persistent RDDs `body` adds, and the ones its result frames read. */
  private def added[A](body: => A)(live: A => Seq[Dataset[_]]): (Set[Int], Set[Int]) = {
    val before = persisted
    val a = body
    live(a).foreach(_.count())
    (persisted -- before, live(a).flatMap(GraftBridge.logicalRddIds).toSet)
  }

  private def chain(n: Long) = (1L until n).map(i => (i, i + 1)).toDF("src", "dst")
  private def sym(n: Long) = (1L until n).flatMap(i => Seq((i, i + 1), (i + 1, i))).toDF("src", "dst")
  private def emb = spark.read.parquet(s"$sf/embeddings.parquet")

  private val results: Seq[(String, () => (Set[Int], Set[Int]))] = Seq(
    "connectedComponents" -> (() =>
      added(Cluster.connectedComponents((1L to 20L).toDF("id"), chain(20)))(Seq(_))),
    // a 10-cycle with a 10-node tail: the tail peels one node a round
    "kCore" -> (() =>
      added(Graph.kCore(chain(20).union(Seq((1L, 10L)).toDF("src", "dst")), 2))(Seq(_))),
    "pagerank" -> (() => added(Graph.pagerank(sym(20), iters = 3))(Seq(_))),
    "labelPropagation" -> (() => added(Graph.labelPropagation(sym(20), iters = 3))(Seq(_))),
    "kmeansTrain" -> (() =>
      added(Similarity.kmeansTrain(emb, k = 4, iters = 3, dim = 64))(r => Seq(r._1, r._2))),
    "pqTrain" -> (() =>
      added(Similarity.pqTrain(emb, m = 4, ksub = 8, iters = 3, dim = 64))(_ => Nil)),
    "Bpe.train" -> (() =>
      added(Bpe.train(Tables(spark, sf, "documents"), col("text"), rounds = 3))(r => Seq(r._2))))

  for ((op, run) <- results)
    test(s"$op leaves exactly the checkpoints its result reads") {
      val (left, read) = run()
      assert(left == read, s"$op: left $left, the result reads $read")
      if (op == "pqTrain") assert(left.isEmpty)
      else assert(read.nonEmpty, s"$op: the result reads no checkpoint")
    }

  test("pqTrain(iters = 2) runs one assign-and-update round, not two") {
    // the model is the centroids the last assignment ran against, so a
    // second round's update (a checkpoint job and its exchanges) was
    // computed and thrown away: 19 jobs when it ran
    val (_, jobs) = jobsDuring(Similarity.pqTrain(emb, m = 4, ksub = 16, iters = 2, dim = 64))
    assert(jobs < 19, jobs)
  }

  test("a failed loop leaves no checkpoint: kCore and connectedComponents at their caps") {
    val before = persisted
    intercept[IllegalArgumentException](Graph.kCore(chain(20), 2, maxIter = 2))
    assert(persisted -- before == Set.empty)
    val perm = new scala.util.Random(42).shuffle((0L until 100L).toVector)
    val permuted = (0 until 99).map(i => (perm(i), perm(i + 1))).toDF("src", "dst")
    intercept[IllegalStateException](
      Cluster.connectedComponents((0L until 100L).toDF("id"), permuted, maxIter = 1))
    assert(persisted -- before == Set.empty)
  }

  test("a step that throws in round 2 leaves no checkpoint") {
    val before = persisted
    val ex = intercept[IllegalStateException] {
      Fixpoint.run("boom", spark) { fx =>
        var st = fx.checkpoint(spark.range(10).toDF("id"))._1
        for (r <- 1 to 3) fx.round {
          st = fx.checkpoint(st.select((col("id") + 1).as("id")))._1
          if (r == 2) throw new IllegalStateException("injected")
          Seq(st)
        }
        st
      }(Seq(_))
    }
    assert(ex.getMessage == "injected")
    assert(persisted -- before == Set.empty)
    assert(spark.sparkContext.getLocalProperty("callSite.short") == null)
  }

  test("a checkpoint keeps its not-null constraints: no IsNotNull filter above its reads") {
    // a file read's columns are nullable, so the filter's facts are constraints
    val edges = Tables(spark, sf, "orders")
      .select(col("o_orderkey").as("src"), col("o_custkey").as("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull)
    val ck = Fixpoint.run("ck", spark)(_.checkpoint(edges)._1)(Seq(_))
    val plan = ck.filter(col("src") > 1L).queryExecution.optimizedPlan
    val notNull = plan.collect { case f: org.apache.spark.sql.catalyst.plans.logical.Filter =>
      f.condition.collect { case n: org.apache.spark.sql.catalyst.expressions.IsNotNull => n }
    }.flatten
    assert(notNull.isEmpty, plan)
    assert(ck.count() == Tables(spark, sf, "orders").count())
  }
}
