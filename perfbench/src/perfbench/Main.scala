package perfbench

import java.nio.file.{Files, Path, Paths, StandardOpenOption}

/** Runs one workload and prints its metrics as the last line of stdout:
  * `{"correct", "attempted", "failed", "metrics"}`. The untraced run
  * (`--trace 0`) reports the end-to-end metrics; the traced run
  * (`--trace 1`) reports the per-layer ones. A run that throws counts as
  * failed and its metrics are reported as missing (null), never as a
  * number. */
object Main {
  val Workloads: Seq[Workload] = Seq(IngestWindows, JoinUpdates, DedupIngest, CurateBatch)

  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "throughput_clips_per_s" -> "clips/s", "latency_p50_ms" -> "ms",
    "latency_p95_ms" -> "ms", "cpu_ms_per_clip" -> "ms", "peak_rss_mb" -> "MB")

  /** Per-layer metric and unit. A traced run reports every one as a
    * number: layers its workload does not run are measured by its probe. */
  val PerLayer: Seq[(String, String)] = Seq(
    "bench.generator_late_ms_p99" -> "ms",
    "audio.decode_us_per_clip" -> "us",
    "audio.band_energies32_us_per_clip" -> "us",
    "audio.tone_pair_us_per_clip" -> "us",
    "audio.aligned_corr_us_per_pair" -> "us",
    "functions.band_energies_expr_us_per_clip" -> "us",
    "operators.extraction_us_per_clip" -> "us",
    "operators.dedup_candidate_pairs" -> "count",
    "operators.dedup_verified_pairs" -> "count",
    "operators.dedup_yield" -> "ratio",
    "operators.broadcast_bytes" -> "bytes",
    "operators.components_s" -> "s",
    "operators.components_jobs" -> "count",
    "operators.keep_best_s" -> "s",
    "streaming.trigger_ms" -> "ms",
    "streaming.latest_offset_ms" -> "ms",
    "streaming.query_planning_ms" -> "ms",
    "streaming.add_batch_ms" -> "ms",
    "streaming.wal_commit_ms" -> "ms",
    "streaming.commit_offsets_ms" -> "ms",
    "streaming.batch_fixed_ms" -> "ms",
    "streaming.trigger_phase_coverage" -> "ratio",
    "streaming.state_rows_total" -> "count",
    "streaming.state_memory_bytes" -> "bytes",
    "streaming.state_commit_ms" -> "ms",
    "streaming.rows_dropped_by_watermark" -> "count",
    "streaming.batches" -> "count",
    "streaming.rows_per_batch" -> "count",
    "streaming.backlog_files_end" -> "count",
    "streaming.scaling_efficiency" -> "ratio",
    "clip_table.bytes_written" -> "bytes",
    "clip_table.files_written" -> "count",
    "clip_table.read_ms" -> "ms",
    "clip_table.compact_ms" -> "ms",
    "stage.executor_run_ms" -> "ms",
    "stage.executor_cpu_ms" -> "ms",
    "stage.gc_ms" -> "ms",
    "stage.input_bytes" -> "bytes",
    "stage.shuffle_write_bytes" -> "bytes",
    "stage.shuffle_read_bytes" -> "bytes",
    "stage.spill_bytes" -> "bytes",
    "stage.jobs" -> "count",
    "stage.tasks" -> "count",
    "plans.planning_ms" -> "ms")

  /** The traced run's probe and its run length in seconds: the layers a
    * workload does not run itself (the curation operators on a stream, the
    * streaming and clip_table layers on curate_batch) are measured by a
    * short run of the other kind on the same seed, after the workload's
    * own measurement. */
  def probe(w: Workload): (Workload, Int) = w match {
    case CurateBatch => (CurateStreamProbe, 3)
    case _ => (CurateBatch, 1)
  }

  private def arg(args: Array[String], k: String): String = {
    val i = args.indexOf(k)
    require(i >= 0 && i + 1 < args.length, s"missing $k")
    args(i + 1)
  }

  def main(args: Array[String]): Unit = {
    val wname = arg(args, "--workload")
    val w = Workloads.find(_.name == wname).getOrElse(
      throw new IllegalArgumentException(s"unknown workload $wname"))
    val seed = arg(args, "--seed").toLong
    val seconds = arg(args, "--seconds").toInt
    require(seconds >= 1, "--seconds must be >= 1")
    val trace = arg(args, "--trace") == "1"
    val root = Paths.get(arg(args, "--build-dir")).toAbsolutePath
    if (args.contains("--prepare")) {
      // a JVM of its own, so that measured runs never synthesize
      val (pw, ps) = probe(w)
      Corpus.ensure(root.resolve("corpus"),
        math.max(w.originalsNeeded(seconds), pw.originalsNeeded(ps)))
      return
    }
    val cpus = arg(args, "--cpus").toInt
    val dirs = Dirs(Files.createTempDirectory(
      Files.createDirectories(root.resolve("runs")), s"$wname-$seed-"))
    Files.createDirectories(dirs.tmp)
    val tracer = if (trace) Some(new Tracer) else None
    val ctx = new Ctx(seed, seconds, cpus, dirs, root.resolve("corpus"), tracer)

    val result = scala.util.Try {
      val o = ctx.span("workload")(w.run(ctx))
      if (!trace) (o, Nil)
      else {
        val own = o.layers ++ Layers.audio(ctx.kernelSample) ++ Layers.functions(dirs)
        val (pw, ps) = probe(w)
        val missing = PerLayer.map(_._1).filter(k => own.get(k).flatten.isEmpty)
        if (missing.isEmpty) (o.copy(layers = own), Nil)
        else {
          val pdirs = Dirs(dirs.run.resolve("probe"))
          Files.createDirectories(pdirs.tmp)
          val p = ctx.span("probe." + pw.name)(
            pw.run(new Ctx(seed, ps, cpus, pdirs, ctx.cache, tracer)))
          (o.copy(layers = own ++ missing.map(k => k -> p.layers.get(k).flatten),
            checks = o.checks ++ p.checks.map(c => c.copy(name = s"probe ${pw.name}: ${c.name}")),
            ops = o.ops + p.ops,
            info = o.info ++ p.info.map(l => s"probe ${pw.name}: $l")), missing)
        }
      }
    }
    val (metrics, attempted, failed, correct) = result match {
      case scala.util.Success((o, probed)) =>
        val m =
          if (!trace) EndToEnd.map { case (k, u) => (k, u, o.e2e.get(k).filterNot(_.isNaN)) }
          else PerLayer.map { case (k, u) => (k, u, o.layers.get(k).flatten.filterNot(_.isNaN)) }
        val unmeasured = m.collect { case (k, _, None) => k }
        val checks = o.checks :+ Check("every metric measured", unmeasured.isEmpty,
          if (unmeasured.isEmpty) s"${m.size} metrics" else "missing: " + unmeasured.mkString(", "))
        o.info.foreach(l => println(s"# $wname: $l"))
        checks.foreach(c =>
          println(s"# $wname check ${if (c.ok) "PASS" else "FAIL"}: ${c.name} (${c.detail})"))
        if (probed.nonEmpty)
          println(s"# $wname: not run by this workload, measured by the ${probe(w)._1.name} " +
            s"probe: ${probed.mkString(", ")}")
        val nFailed = checks.count(!_.ok)
        if (!trace) record(root, wname, o.e2e)
        else tracer.foreach(t => t.write(root.resolve(s"traces/$wname-seed$seed.jsonl"),
          overhead(root, wname, o)))
        (m, 1 + o.ops + checks.size, nFailed, nFailed == 0)
      case scala.util.Failure(e) =>
        println(s"# $wname: run failed: $e")
        e.printStackTrace(System.out)
        org.apache.spark.sql.SparkSession.getActiveSession.foreach(Sut.stop)
        val m = if (!trace) EndToEnd.map { case (k, u) => (k, u, None) }
          else PerLayer.map { case (k, u) => (k, u, None) }
        (m, 1, 1, false)
    }
    println(s"# $wname: error_rate ${failed.toDouble / attempted} ($failed of $attempted)")
    scala.util.Try(Sut.deleteTree(dirs.run))
    val body = metrics.map { case (k, u, v) =>
      s""""$k":{"value":${v.map(Json.num).getOrElse("null")},"unit":"$u"}"""
    }.mkString("{", ",", "}")
    println(s"""{"correct":$correct,"attempted":$attempted,"failed":$failed,"metrics":$body}""")
    System.out.flush()
    Runtime.getRuntime.halt(0)
  }

  /** Keeps each untraced run's end-to-end figures, so a traced run can
    * state its tracing overhead against their medians. */
  private def record(root: Path, w: String, e2e: Map[String, Double]): Unit = {
    val f = root.resolve(s"results/$w.jsonl")
    Files.createDirectories(f.getParent)
    val line = e2e.map { case (k, v) => s""""$k":${Json.num(v)}""" }.mkString("{", ",", "}\n")
    Files.write(f, line.getBytes("UTF-8"), StandardOpenOption.CREATE, StandardOpenOption.APPEND)
  }

  private def overhead(root: Path, w: String, o: Outcome): Seq[(String, String)] = {
    val f = root.resolve(s"results/$w.jsonl")
    val past = if (!Files.exists(f)) Nil else
      scala.jdk.CollectionConverters.ListHasAsScala(Files.readAllLines(f)).asScala.toSeq
    val traced = Seq("workload" -> s""""$w"""") ++ o.e2e.toSeq.sortBy(_._1).map {
      case (k, v) => s"traced.$k" -> Json.num(v) }
    val over = Seq("throughput_clips_per_s", "latency_p50_ms", "cpu_ms_per_clip").flatMap { k =>
      val vals = past.flatMap(l => s""""$k":([-0-9.Ee]+)""".r.findFirstMatchIn(l)
        .map(_.group(1).toDouble))
      if (vals.isEmpty) None
      else {
        val base = Sut.median(vals)
        val v = o.e2e(k)
        Some(s"overhead_pct.$k" -> Json.num(100.0 * (v - base) / base))
      }
    }
    println(s"# $w: tracing overhead vs untraced medians: " +
      (if (over.isEmpty) "no untraced runs recorded" else over.map(t => t._1 + "=" + t._2).mkString(", ")))
    traced ++ over :+ ("untraced_runs" -> past.size.toString)
  }
}
