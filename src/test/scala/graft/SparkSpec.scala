package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{GraftBridge, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** shared session: one JVM-wide SparkSession across suites. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  val sf = "/root/testdata/sf0.001"

  /** Jobs started on this thread while `body` runs (a job group tags
    * them, so jobs of anything else running in the session don't count). */
  protected def jobsDuring[T](body: => T): (T, Int) = {
    val group = s"spark-spec-${System.nanoTime()}"
    val n = new AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          n.incrementAndGet()
    }
    GraftBridge.drainListeners(spark)
    spark.sparkContext.addSparkListener(l)
    spark.sparkContext.setJobGroup(group, getClass.getSimpleName)
    try {
      val r = body
      GraftBridge.drainListeners(spark)
      (r, n.get)
    } finally {
      spark.sparkContext.clearJobGroup()
      spark.sparkContext.removeSparkListener(l)
    }
  }
}

object SparkSpec {
  lazy val session: SparkSession = Session.local(4)
}
