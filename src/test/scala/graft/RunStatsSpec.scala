package graft

import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

/** The run recorder counts what a measured body ran, by time window. */
class RunStatsSpec extends SparkSpec {

  test("a stream face's micro-batch jobs count, though they run under the stream's job group") {
    val (_, rec) = RunStats.measure(spark, "stream_ewma") {
      SparkEntry.benchFaces("stream_ewma")(spark, sf).count()
    }
    assert(rec.jobs.nonEmpty, rec.columns)
    assert(rec.batches > 0, rec.columns)
    assert(rec.batchMs.contains("addBatch"), rec.columns)
  }

  test("a shuffle row reports its shuffle bytes") {
    val (_, rec) = RunStats.measure(spark, "q1_agg")(SparkEntry.queries("q1_agg")(spark, sf).count())
    assert(rec.shuffleWriteBytes > 0 && rec.shuffleReadBytes > 0, rec.columns)
    assert(rec.stages > 0 && rec.tasks > 0, rec.columns)
  }

  test("a batch row's jobs carry a call site, and it runs no rounds") {
    val (_, rec) = RunStats.measure(spark, "q1_agg")(SparkEntry.queries("q1_agg")(spark, sf).count())
    assert(rec.jobs.nonEmpty && rec.jobs.forall(_.site != "?"), rec.jobs)
    assert(rec.rounds == 0, rec.columns)
  }

  test("an iterative row counts its rounds, and their jobs run under the round's call site") {
    val (_, rec) = RunStats.measure(spark, "graph_kcore")(SparkEntry.queries("graph_kcore")(spark, sf).count())
    assert(rec.rounds > 0, rec.columns)
    val RoundSite = """kcore round (\d+)""".r
    val sites = rec.jobs.map(_.site).collect { case RoundSite(n) => n.toInt }.distinct.sorted
    assert(sites == (1 to rec.rounds), rec.jobs)
  }

  test("a throwing body leaves no job description set") {
    val sc = spark.sparkContext
    intercept[IllegalStateException] {
      RunStats.measure(spark, "boom") {
        assert(sc.getLocalProperty("spark.job.description") == "boom")
        throw new IllegalStateException("injected")
      }
    }
    assert(sc.getLocalProperty("spark.job.description") == null)
  }

  test("a body that collects garbage records its collections") {
    val (_, rec) = RunStats.measure(spark, "gc")(System.gc())
    assert(rec.gcs >= 1 && rec.gcMs >= 0, rec.columns)
    assert(rec.columns.contains(s"gcs=${rec.gcs}"), rec.columns)
  }

  test("the program's JVMs run the Parallel collector") {
    val names = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getName).toSet
    assert(names == Set("PS Scavenge", "PS MarkSweep"), names)
  }
}
