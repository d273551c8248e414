package graft

import java.io.FileNotFoundException
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{CreateFlag, FileContext, FileStatus, FileSystem, Options, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.{Dataset, Row}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.{col, udf}
import graft.streaming.{StreamOps, StreamRun}

class ScratchSpec extends SparkSpec {

  private def conf = spark.sparkContext.hadoopConfiguration

  private def octal(s: String) = new FsPermission(Integer.parseInt(s, 8).toShort)

  /** A scratch dir, with the scheme registered on the session's conf. */
  private def scratchDir(): (String, java.nio.file.Path) = {
    val d = Scratch.dir(spark, "graft-scratch-spec")
    (d, Paths.get(new Path(d).toUri.getPath))
  }

  test("scratch status, link status and permissions answer as the stock local file system") {
    val (_, local) = scratchDir()
    try {
      val file = Files.write(local.resolve("f.txt"), "hello".getBytes(UTF_8))
      val dir = Files.createDirectory(local.resolve("d"))
      val link = Files.createSymbolicLink(local.resolve("l"), file)
      val stock = new RawLocalFileSystem
      stock.initialize(java.net.URI.create("file:///"), conf)
      val scratch = new RawScratchFileSystem
      scratch.initialize(Scratch.root, conf)
      def plain(p: java.nio.file.Path) = new Path(p.toString)
      def schemed(p: java.nio.file.Path) = new Path(s"${Scratch.scheme}://$p")
      def same(what: String, a: FileStatus, b: FileStatus): Unit = {
        def fields(s: FileStatus) = (s.getLen, s.isDirectory, s.isSymlink,
          s.getModificationTime, s.getPermission, s.getOwner, s.getGroup,
          if (s.isSymlink) s.getSymlink.toUri.getPath else "")
        assert(fields(a) == fields(b), s"$what: stock ${fields(a)} vs scratch ${fields(b)}")
      }
      for (p <- Seq(file, dir, link)) {
        same(s"status of $p", stock.getFileStatus(plain(p)), scratch.getFileStatus(schemed(p)))
        same(s"link status of $p",
          stock.getFileLinkStatus(plain(p)), scratch.getFileLinkStatus(schemed(p)))
      }
      assert(scratch.getFileLinkStatus(schemed(link)).isSymlink)
      assert(scratch.getLinkTarget(schemed(link)).toUri.getPath == file.toString)
      // setPermission round-trips, sticky bit included, and the stock
      // class reads the same mode back
      for ((p, mode) <- Seq(file -> "640", dir -> "1755")) {
        scratch.setPermission(schemed(p), octal(mode))
        assert(scratch.getFileStatus(schemed(p)).getPermission == octal(mode))
        assert(stock.getFileStatus(plain(p)).getPermission == octal(mode))
      }
      val missing = schemed(local.resolve("missing"))
      intercept[FileNotFoundException](scratch.getFileStatus(missing))
      intercept[FileNotFoundException](scratch.getFileLinkStatus(missing))
      intercept[FileNotFoundException](scratch.listStatus(missing))
    } finally Scratch.reclaim(local.toString)
  }

  test("FileContext rename with OVERWRITE replaces the target, checksums and all; " +
    "listings carry the scratch scheme") {
    val (d, local) = scratchDir()
    try {
      val fc = FileContext.getFileContext(new Path(d).toUri, conf)
      assert(fc.getDefaultFileSystem.isInstanceOf[ScratchFs])
      def write(name: String, text: String): Path = {
        val p = new Path(s"$d/$name")
        val out = fc.create(p, java.util.EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE))
        try out.write(text.getBytes(UTF_8)) finally out.close()
        p
      }
      val (src, dst) = (write("src", "new"), write("dst", "old contents"))
      assert(Files.exists(local.resolve(".src.crc")) && Files.exists(local.resolve(".dst.crc")))
      fc.rename(src, dst, Options.Rename.OVERWRITE)
      assert(!fc.util.exists(src) && !Files.exists(local.resolve(".src.crc")))
      val in = fc.open(dst)
      try assert(new String(in.readAllBytes(), UTF_8) == "new") finally in.close()

      val fs = FileSystem.get(new Path(d).toUri, conf)
      assert(fs.isInstanceOf[ScratchFileSystem])
      val listed = fs.listStatus(new Path(d))
      assert(listed.map(_.getPath.getName).toSeq == Seq("dst"))
      assert(listed.forall(_.getPath.toUri.getScheme == Scratch.scheme))
    } finally Scratch.reclaim(d)
  }

  test("a stream face lands the same rows as the same query checkpointed on file:") {
    val got = SparkEntry.benchFaces("stream_ewma")(spark, sf)
    val local = Files.createTempDirectory("graft-scratch-spec-file")
    try {
      val out = local.resolve("out").toUri.toString
      val q = StreamOps.ewmaStream(spark,
          Tables.stream(spark, sf, "events").select(col("user_id"), col("ts"), col("value")),
          1L, 5L).toDF()
        .writeStream.outputMode("update")
        .option("checkpointLocation", local.resolve("ckpt").toUri.toString)
        .foreachBatch { (b: Dataset[Row], _: Long) => b.write.mode("append").parquet(out) }
        .start()
      try q.processAllAvailable() finally q.stop()
      val exp = spark.read.parquet(out)
      assert(got.count() > 0)
      assert(got.count() == exp.count())
      assert(got.exceptAll(exp).isEmpty && exp.exceptAll(got).isEmpty)
    } finally org.apache.commons.io.FileUtils.deleteQuietly(local.toFile)
  }

  test("a stream face starts no process") {
    // one-time JVM set-up is not the face's: a first run outside the
    // count, and Spark's executor-metrics getter, which starts one
    // `getconf PAGESIZE` per JVM on whichever heartbeat comes first
    SparkEntry.benchFaces("stream_ewma")(spark, sf).count()
    Class.forName("org.apache.spark.executor.ProcfsMetricsGetter$")
    val launched = new ConcurrentLinkedQueue[String]()
    val counting = new SecurityManager {
      override def checkPermission(perm: java.security.Permission): Unit = ()
      override def checkPermission(perm: java.security.Permission, context: AnyRef): Unit = ()
      override def checkExec(cmd: String): Unit = launched.add(cmd)
    }
    // a common pool first made under a security manager keeps
    // permission-less workers for the rest of the JVM
    java.util.concurrent.ForkJoinPool.commonPool()
    System.setSecurityManager(counting)
    try SparkEntry.benchFaces("stream_ewma")(spark, sf)
    finally System.setSecurityManager(null)
    assert(launched.isEmpty,
      s"${launched.size} processes started: ${launched.asScala.groupBy(identity).map {
        case (c, n) => s"$c x${n.size}" }.mkString(", ")}")
  }

  test("a failing replay and a failing staged operator leave no scratch or checkpoint dir") {
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    def leftovers = tmp.list().filter(n =>
      n.startsWith("graft-ckpt-") || n.startsWith("graft-fail-") || n.startsWith("temporary-")).toSet
    val before = leftovers
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[Long]
    mem.addData(1L, 2L, 3L)
    val boom = udf((v: Long) => {
      if (v == 2L) throw new IllegalStateException("injected operator failure")
      v
    })
    intercept[Exception] {
      StreamRun(spark, "t_scratch_fail", mem.toDF().select(boom(col("value")).as("v")),
        "append", StreamRun.Memory)()
    }
    intercept[IllegalStateException] {
      Scratch.using(spark, "graft-fail-") { d =>
        spark.range(10).write.parquet(s"$d/wave")
        throw new IllegalStateException("injected wave failure")
      }
    }
    assert((leftovers -- before).isEmpty, s"left behind: ${leftovers -- before}")
  }

  test("the round-trip rows write nothing under the checkout's target/") {
    // sbt keeps its build outputs, logs and test reports under target/
    // and may touch them while a suite runs; every other entry counts
    val root = Paths.get("target")
    val sbtOwned = Set("streams", "test-reports", "task-temp-directory", "global-logging", "bg-jobs")
    def listing: Map[String, Long] =
      if (!Files.isDirectory(root)) Map.empty
      else Files.list(root).iterator.asScala.toSeq
        .filterNot { d => val n = d.getFileName.toString; sbtOwned(n) || n.startsWith("scala-") }
        .flatMap(d => Files.walk(d).iterator.asScala)
        .map(p => p.toString -> Files.getLastModifiedTime(p).toMillis).toMap
    val before = listing
    for (row <- Seq("src_csv_roundtrip", "src_binary_roundtrip", "src_spider",
        "sim_index_persist", "sim_index_append", "bucketed_join"))
      assert(SparkEntry.queries(row)(spark, sf).count() > 0, row)
    val after = listing
    assert(after == before,
      s"created or modified under target/: ${(after.toSet -- before.toSet).map(_._1).toSeq.sorted}")
  }

  test("the JDBC round-trip row leaves no derby.log in the working dir") {
    // Derby logs every database boot, and the row boots a fresh one
    val log = Paths.get("derby.log")
    def state = if (Files.exists(log)) Some((Files.size(log), Files.getLastModifiedTime(log))) else None
    val before = state
    assert(SparkEntry.queries("src_jdbc_roundtrip")(spark, sf).count() > 0)
    assert(state == before, s"derby.log went from $before to $state")
  }
}
