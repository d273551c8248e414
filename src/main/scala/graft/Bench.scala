package graft

import Rows.json

object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = Session.defaultCpus
    val spark = Session.local(cpus)
    // Warm up JVM/codegen/parquet footer caches so the first timed query
    // isn't charged for one-time session costs.
    spark.range(1000000L).selectExpr("sum(id)").collect()
    Rows.run(spark, sfDir, "warmup", "q1_agg")(_.count())
    // Streaming-engine warmup (r18): without it the alphabetically first
    // stream_* row is charged ~1.5-2 s of one-time machinery (stream
    // execution threads, state-store provider, file source/sink and
    // offset/commit-log classes plus their codegen) that is session
    // setup, not operator cost. Measured: stream_anomaly reads 3.2 s
    // isolated-cold vs 1.0-1.4 s with the machinery warm while every
    // other face is untouched. Same policy as the q1_agg warmup above;
    // the work is sf-INDEPENDENT: 100 generated rows through the faces'
    // own runner, once as a file-source stateful aggregate landed by
    // foreachBatch and once into the native parquet file sink, sharing
    // no result, input or output with any declared row.
    try Scratch.using(spark, "graft-wu") { src =>
      import org.apache.spark.sql.functions.col
      import graft.streaming.StreamRun
      spark.range(100L).selectExpr("id % 7 AS k", "timestamp_micros(id) AS ts", "id AS v")
        .write.mode("overwrite").parquet(src)
      val schema = spark.read.parquet(src).schema
      def in = spark.readStream.schema(schema).parquet(src)
      StreamRun(spark, "wu_state", in.withWatermark("ts", "1 second").groupBy(col("k")).count(),
        "complete", StreamRun.Landed)()
      StreamRun(spark, "wu_sink", in.select(col("v")), "append", StreamRun.Landed)()
    } catch { case scala.util.control.NonFatal(e) =>
      System.err.println(s"[bench] streaming warmup failed (continuing): " +
        Option(e.getMessage).getOrElse(e.getClass.getName).take(120))
    }
    // Box-drift calibration probe: a CONSTANT-work query (no data read,
    // sf-independent — one codegen'd range-scan aggregate plus one small
    // shuffle) timed as the median of 3. Recorded in the JSON so a
    // cross-round per-query ratio can be read against the probe ratio:
    // if both move ~1.2× together it's box drift, not a plan regression.
    def probeOnce(): Double = {
      val t0 = System.nanoTime()
      spark.range(0L, 200000000L, 1L, cpus)
        .selectExpr("id % 1000 AS k", "id AS v")
        .groupBy("k").agg(org.apache.spark.sql.functions.sum("v"))
        .selectExpr("sum(`sum(v)`)").collect()
      (System.nanoTime() - t0) / 1e9
    }
    val probeSec = Seq.fill(3)(probeOnce()).sorted.apply(1)
    // IO-axis probe (also constant-work, sf-independent): a wide
    // repartition whose ~600 MB of shuffle blocks go through the full
    // serialize→local-disk→fetch stack. The CPU probe above has twice
    // failed to explain cross-box record divergence (r14: two boxes
    // with EQUAL cpu probes produced 1965 s vs 3178 s suite totals —
    // every diverging row was shuffle/state-store-bound, and isolated
    // re-times matched the record). Reading BOTH probes disambiguates:
    // cpu-probe moves → box CPU drift; io-probe moves alone → disk /
    // page-cache drift; neither moves → a real plan regression. What
    // it reads is RELATIVE IO-stack drift (serialize + shuffle-file
    // write + fetch on this box vs a record box), not raw disk
    // bandwidth — ~600 MB of blocks can sit in page cache on a
    // large-RAM box. The post-shuffle reduction is count(pad) — a
    // per-row null check, NOT count(distinct pad): a 40 M-string hash
    // aggregate is itself CPU-heavy and bled the CPU axis into this
    // probe; and not count(1), which would let column pruning drop
    // `pad` from the exchange and gut the probe's volume.
    def ioProbeOnce(): Double = {
      val t0 = System.nanoTime()
      spark.range(0L, 40000000L, 1L, cpus)
        .selectExpr("id", "cast(id as string) AS pad")
        .repartition(64, org.apache.spark.sql.functions.col("id"))
        .selectExpr("count(pad)").collect()
      (System.nanoTime() - t0) / 1e9
    }
    val ioProbeSec = Seq.fill(3)(ioProbeOnce()).sorted.apply(1)
    // A failed query is reported as time -1 plus an entry in "errors" —
    // never silently folded into the totals as a fast success. Which
    // rows run, their face, hygiene, timing and failures are the row
    // step's (Rows); SPARK_GRAFT_SKIP's rows are surfaced in the JSON so
    // a skipped run can't read as a full one.
    val names = Rows.select()
    // per-family GC fence state: the alpha-sorted suite runs whole
    // families back to back, so a full GC at a family boundary gives each
    // family a clean old-gen start. Under G1 the late suite read
    // dedup_survivors at 4.5x and text_bpe at 2.5x their isolated times
    // from accumulated garbage. Under the Parallel collector, one sf0.1
    // pass at 4 cores each way: 247.6 s with the fence, 237.0 s without
    // (GC paused 9.9 s vs 5.0 s), but the sel family read 1.31x slower
    // without it at an equal family probe, so one pass each cannot clear
    // it and it stays. Time-gated (>=60 s since the last one) so small
    // families don't trigger a GC storm: at most ~1 full GC/min.
    var prevFamily = ""
    var lastFence = System.nanoTime()
    // Per-family drift probes (VERDICT r15 #3): one constant-work CPU
    // probe at each family boundary, so a steal/drift window DURING the
    // suite is attributable post-hoc to the rows it actually hit — the
    // r15 sf10 record carried rows 3-6x their isolated re-times from a
    // host steal window, and the single start-of-run probe couldn't say
    // which. One sample per family (~0.5-1.5 s each, ~35 families) is
    // noise-tolerant by design: it flags multi-x steal, not 10% drift.
    val familyProbes = scala.collection.mutable.LinkedHashMap[String, Double]()
    val runs = names.zipWithIndex.map { case (name, qi) =>
      val family = name.takeWhile(_ != '_')
      if ((family != prevFamily && (System.nanoTime() - lastFence) > 60L * 1000000000L)
          || qi % 20 == 19) {
        System.gc()
        lastFence = System.nanoTime()
      }
      if (family != prevFamily) familyProbes(family) = probeOnce()
      prevFamily = family
      Rows.run(spark, sfDir, "bench", name, timed = true)(_.count())
    }
    val results = runs.map(r => r.row -> (if (r.value.isSuccess) r.record.wallS else -1.0))
    val errors = runs.flatMap(r => r.failure.map(r.row -> _.take(200)))
    val qs = results.map { case (k, v) => json(k) + ":" + v }
      .mkString("{", ",", "}")
    val errJson = errors.map { case (k, v) => json(k) + ":" + json(v) }
      .mkString("{", ",", "}")
    val total = results.collect { case (_, v) if v >= 0 => v }.sum
    val skipJson = Rows.skipped.map(json).mkString("[", ",", "]")
    // the rows that ran a bench face (stream_* rows) or a scale face in
    // place of their gate form: disclosed, never silent
    def ranAs(face: Rows.Face): String = runs.filter(_.face.contains(face)).map(_.row)
      .sorted.map(json).mkString("[", ",", "]")
    val facesJson = ranAs(Rows.Face.Bench)
    val scaleFacesJson = ranAs(Rows.Face.Scale)
    val fpJson = familyProbes.map { case (k, v) => json(k) + ":" + v }
      .mkString("{", ",", "}")
    println(s"""{"metric":"total","value":$total,"unit":"sec","probe_sec":$probeSec,"io_probe_sec":$ioProbeSec,"queries":$qs,"errors":$errJson,"n_failed":${errors.size},"skipped":$skipJson,"faces":$facesJson,"scale_faces":$scaleFacesJson,"family_probes":$fpJson,"sf":"$sfDir"}""")
    // The driver's stdout tail capture is smaller than the full line
    // above (r15/r16 records arrived with the JSON head cut mid-dict),
    // so RE-EMIT the record in tail-survivable form. r18 sizing: every
    // BENCH_r*.json the driver has ever recorded keeps EXACTLY the last
    // 2000 bytes of stdout (r01 through r17, all with parsed:null), so
    // the r17 re-emission never fit — 40-query full-precision chunks
    // are ~1.6 KB each and only the last one survived. Two changes:
    // (1) chunk lines shrink to 20 queries at ms precision (~0.5 KB),
    // (2) the FINAL line is a self-contained compact `"metric":"total"`
    // record byte-budgeted to survive the window together with sbt's
    // trailing "[success] Total time" line: totals/probes/errors plus
    // as many per-query entries as fit, slowest rows first (the
    // informative ones), with the omission count disclosed — a
    // truncated-but-parseable record instead of a complete-but-cut one.
    def ms(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    val chunks = results.grouped(20).toSeq
    chunks.zipWithIndex.foreach { case (part, i) =>
      val pq = part.map { case (k, v) => json(k) + ":" + ms(v) }
        .mkString("{", ",", "}")
      println(s"""{"metric":"queries_chunk","part":${i + 1},"of":${chunks.size},"queries":$pq}""")
    }
    println(s"""{"metric":"total_summary","value":$total,"unit":"sec","n_queries":${results.size},"probe_sec":$probeSec,"io_probe_sec":$ioProbeSec,"errors":$errJson,"n_failed":${errors.size},"skipped":$skipJson,"scale_faces":$scaleFacesJson,"sf":"$sfDir"}""")
    // window 2000 − "[success] Total time: …" (~80) − "[info] " prefix
    // (7) − newline/slack ⇒ 1500 is comfortably inside even if sbt's
    // trailer grows; measured against BENCH_r17.json's captured tail.
    val budget = 1500
    val errJsonC = errors.map { case (k, v) => json(k) + ":" + json(v.take(40)) }
      .mkString("{", ",", "}")
    val head = s"""{"metric":"total","value":${ms(total)},"unit":"sec","n_queries":${results.size},"probe_sec":${ms(probeSec)},"io_probe_sec":${ms(ioProbeSec)},"errors":$errJsonC,"n_failed":${errors.size},"skipped":$skipJson,"scale_faces":$scaleFacesJson,"sf":"$sfDir","queries":{"""
    val entries = results.sortBy { case (_, v) => -v }
      .map { case (k, v) => json(k) + ":" + ms(v) }
    val sb = new StringBuilder(head)
    var taken = 0
    val tailRoom = s""","queries_omitted":${results.size}}""".length
    entries.foreach { e =>
      val sep = if (taken == 0) "" else ","
      if (sb.length + sep.length + e.length + tailRoom <= budget) {
        sb.append(sep).append(e); taken += 1
      }
    }
    sb.append(s"""},"queries_omitted":${results.size - taken}}""")
    println(sb.toString)
    spark.stop()
  }
}
