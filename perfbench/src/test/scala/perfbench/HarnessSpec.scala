package perfbench

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import Stats.Span

class HarnessSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def digest(rows: Seq[(Long, String, Double)]): Digest.Result = {
    import spark.implicits._
    Digest.of(rows.toDF("id", "name", "x").repartition(3))
  }

  private val rows = Seq((1L, "a", 0.5), (2L, "b", 1.25), (3L, "c", -7.0), (3L, "c", -7.0))

  test("digest is independent of row order") {
    assert(digest(rows) == digest(rows.reverse))
    assert(digest(rows).rows == 4)
  }

  test("digest changes when one value changes") {
    val base = digest(rows)
    assert(digest(rows.updated(1, (2L, "b", 1.5))) != base)
    assert(digest(rows.updated(0, (1L, "z", 0.5))) != base)
    assert(digest(rows.updated(2, (4L, "c", -7.0))) != base)
    // a duplicated row counts: dropping one copy changes the digest
    assert(digest(rows.dropRight(1)).digest != base.digest)
  }

  test("digest ignores last-bit differences of doubles, and -0.0") {
    val sum = 0.1 + 0.2 // 0.30000000000000004
    assert(digest(Seq((1L, "a", sum))) == digest(Seq((1L, "a", 0.3))))
    assert(digest(Seq((1L, "a", -0.0))) == digest(Seq((1L, "a", 0.0))))
    assert(digest(Seq((1L, "a", 0.3001))) != digest(Seq((1L, "a", 0.3))))
  }

  test("digest of a large hash sum does not overflow under ANSI mode") {
    import spark.implicits._
    val r = Digest.of(spark.range(0, 200000).toDF("id").select(($"id" * 7919).as("v")))
    assert(r.rows == 200000)
  }

  test("tail percentile leaves at least ten samples beyond it") {
    assert(math.abs(Stats.tailPercentile(1000) - 99.0) < 1e-9)
    assert(Stats.tailPercentile(40) == 75.0)
    assert(Stats.tailPercentile(20) == 50.0)
    assert(Stats.tailPercentile(19) == 50.0)
    assert(Stats.tailPercentile(8) == 50.0)
    // exactly ten distinct samples lie beyond the reported percentile
    for (n <- 20 to 2000) {
      val s = (1 to n).map(_.toDouble)
      assert(s.count(_ > Stats.percentile(s, Stats.tailPercentile(n))) == 10, s"n = $n")
    }
    val xs = (1 to 40).map(_.toDouble)
    assert(Stats.percentile(xs, 75.0) == 30.25)
    assert(xs.count(_ > Stats.percentile(xs, 75.0)) == 10)
    assert(Stats.percentile(xs, 50.0) == 20.5)
    assert(Stats.percentile(Seq(5.0), 99.0) == 5.0)
  }

  test("median and geomean") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5)
    assert(math.abs(Stats.geomean(Seq(1.0, 4.0, 16.0)) - 4.0) < 1e-12)
  }

  test("self time subtracts the union of child intervals") {
    val spans = Seq(
      Span(1, 0, "r", "row", 0, 100),
      Span(2, 1, "r", "build", 0, 30),
      Span(3, 1, "r", "action", 30, 100),
      Span(4, 2, "r", "phase", 5, 10),
      Span(5, 3, "r", "job", 40, 80),
      Span(6, 3, "r", "job", 60, 90), // overlaps the first job
      Span(7, 5, "r", "stage", 35, 50), // starts before its job: clipped
      Span(8, 6, "r", "stage", 70, 90))
    val self = Stats.selfTime(spans)
    assert(self("row") == 0.0)
    assert(self("build") == 25.0)
    assert(self("action") == 20.0) // 70 minus jobs covering 40..90
    assert(self("phase") == 5.0)
    assert(self("job") == (40.0 - 10.0) + (30.0 - 20.0))
    assert(self("stage") == 15.0 + 20.0)
    assert(Stats.covered(Seq((0.0, 10.0), (5.0, 15.0), (20.0, 25.0), (3.0, 3.0))) == 20.0)
  }

  test("every workload row resolves in the registry") {
    Workloads.all.foreach { w =>
      assert(w.rows.nonEmpty && w.rows.distinct == w.rows, w.name)
      assert(Workloads.resolve(w.rows).map(_._1) == w.rows)
    }
    assert(intercept[NoSuchElementException](Workloads.resolve(Seq("no_such_row")))
      .getMessage.contains("no_such_row"))
  }
}
