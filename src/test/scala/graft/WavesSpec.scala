package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import graft.operators.Waves

/** The staged-wave executor behind the chunked operators: its staged
  * tables read back with the writer's schema, slice exactly by wave,
  * and go away when retired. */
class WavesSpec extends SparkSpec {

  test("staged slices and a wave run's output are read back without a Spark job") {
    Scratch.using(spark, "graft-waves-spec") { dir =>
      import spark.implicits._
      val df = spark.range(40L).select(col("id"), (col("id") % 7).as("v"))
      // 9 waves over 7 keys: waves 7 and 8 stage nothing
      val passes = 9
      val t = Waves.stage(df, s"$dir/t", col("v"), passes)
      val k = Waves.stage(df.select(col("id"), (col("id") * 10).as("x")), s"$dir/k")
      val out = Waves.run(spark, passes, s"$dir/out") { p =>
        t.slice(p).join(k.all, "id").select(col("id"), col("x"), lit(p).as("p"))
      }
      val (frames, jobs) = jobsDuring(
        ((0 until passes).map(t.slice(_)), k.all, out.all))
      assert(jobs == 0)
      // a read that does not carry the schema infers it with a job
      assert(jobsDuring(spark.read.parquet(s"$dir/t"))._2 >= 1)
      val (slices, keys, landed) = frames
      slices.zipWithIndex.foreach { case (s, p) =>
        assert(s.columns.toSeq == Seq("id", "v"))
        assert(s.as[(Long, Long)].collect().toSet ==
          (0L until 40L).map(i => (i, i % 7)).filter(_._2 % passes == p).toSet, s"wave $p")
      }
      assert(keys.count() == 40L)
      assert(landed.as[(Long, Long, Int)].collect().toSet ==
        (0L until 40L).map(i => (i, i * 10, (i % 7).toInt)).toSet)
      Waves.retire(t)
      val p = new Path(s"$dir/t")
      assert(!p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p))
    }
  }
}
