package perfbench

import java.nio.file.{Files, Path}
import java.nio.file.attribute.FileTime

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.functions.GraftFunctions
import graft.operators.Extraction
import graft.queries.ClipQueries
import graft.streaming.{ClipStreamJob, ClipTable}

final case class Release(file: String, clips: Int, schedMs: Double, actualMs: Double)

/** A staged input file: the clip file and, for the join, its update file. */
final case class Staged(name: String, update: Option[String], clips: Int)

/** A streaming workload driven open loop. In the steady phase one
  * generator thread moves pre-staged files into the watched directory on a
  * fixed schedule, whatever the query is doing; in the burst phase the
  * rest of the backlog is released at once. Latency runs from a file's
  * scheduled release to the commit of the micro-batch that consumed it. */
abstract class StreamWorkload extends Workload {
  /** Steady-phase arrival rate, about half this workload's drain capacity
    * on a 4-vCPU host. */
  def rateClipsPerSec: Double
  def clipsPerFile: Int
  /** Burst backlog per second of run length. */
  def burstClipsPerSec: Double
  def maxFilesPerTrigger: Int
  def withUpdates: Boolean = false

  /** Release-ordered input rows (at least `n`) and the planted truth. */
  def rows(ctx: Ctx, n: Int): IndexedSeq[Clip]
  def start(spark: SparkSession, dirs: Dirs, table: ClipTable, ckpt: Path): StreamingQuery
  def table(root: Path): ClipTable
  def check(ctx: Ctx, spark: SparkSession, table: ClipTable,
            released: IndexedSeq[Clip]): Seq[Check]
  /** Files released before the measured phases, each in its own batch. */
  def warmFiles: Int = 1

  val SteadyShare = 0.65

  private def files(seconds: Int): (Int, Int) = (
    math.max(1, math.round(seconds * SteadyShare * rateClipsPerSec / clipsPerFile).toInt),
    math.max(1, math.ceil(seconds * (1 - SteadyShare) * burstClipsPerSec / clipsPerFile).toInt))

  def originalsNeeded(seconds: Int): Int = {
    val (s, b) = files(seconds)
    (warmFiles + s + b) * clipsPerFile
  }

  def run(ctx: Ctx): Outcome = {
    val dirs = ctx.dirs
    val tPrep = Sut.now()
    val (steadyFiles, burstFiles) = files(ctx.seconds)
    val nFiles = warmFiles + steadyFiles + burstFiles
    val slots = Corpus.slots(rows(ctx, nFiles * clipsPerFile), clipsPerFile, ctx.seed,
      withUpdates).take(nFiles)
    val released = slots.flatMap(_.clips)
    ctx.sample(released)
    val names = stage(dirs, slots)
    Sut.warmPageCache(dirs.staging)
    val warm = names.take(warmFiles)
    val steady = names.slice(warmFiles, warmFiles + steadyFiles)
    val burst = names.drop(warmFiles + steadyFiles)
    val warmClips = warm.map(_.clips).sum

    // Set-up: session start, function registration, query start and the
    // warm-up batches, repeated; the last one stays up for the measurement.
    var spark: SparkSession = null
    var q: StreamingQuery = null
    var tbl: ClipTable = null
    val tSetup = Sut.now()
    val setupS = (1 to Setup.Reps).map { i =>
      if (q != null) {
        q.stop(); Sut.stop(spark)
        warm.foreach(unrelease(dirs, _))
      }
      tbl = table(dirs.sink(i))
      val t0 = Sut.now()
      spark = Sut.session(ctx.cpus, dirs)
      // the query runs its batches on a clone of the session, taken at
      // start: listeners must be on before it
      if (i == Setup.Reps) ctx.tracer.foreach(_.attach(spark))
      q = start(spark, dirs, tbl, dirs.ckpt(i))
      warm.scanLeft(0)(_ + _.clips).tail.zip(warm).foreach { case (n, f) =>
        release(dirs, f); awaitRows(q, n)
      }
      (Sut.now() - t0) / 1000.0
    }
    val ckpt = dirs.ckpt(Setup.Reps)
    ctx.tracer.foreach(_.reset())

    val cpu0 = Sut.cpuMs()
    val cpu0Wall = Sut.now()
    val periodMs = 1000.0 * clipsPerFile / rateClipsPerSec
    val steadyRel = ctx.span("steady") {
      val r = openLoop(dirs, steady, periodMs)
      awaitRows(q, warmClips + steady.map(_.clips).sum)
      r
    }
    val tBurst = Sut.wallMs()
    val burstRel = ctx.span("burst") {
      val r = burst.map { f => release(dirs, f); Release(f.name, f.clips, tBurst, Sut.wallMs()) }
      awaitRows(q, released.size)
      r
    }
    val cpu1 = Sut.cpuMs()
    val batches = Batches.of(q)
    q.stop()
    val counters = ctx.tracer.map { t => t.drain(spark); Setup.counters(t) }.getOrElse(Map.empty)

    val fileBatch = Batches.fileBatches(ckpt, batches, "/in/clips")
    val byId = batches.map(b => b.id -> b).toMap
    def commitOf(r: Release): Double = byId(fileBatch(r.file)).commitMs
    val lat = steadyRel.map(r => commitOf(r) - r.schedMs)
    val burstEnd = burstRel.map(commitOf).max
    val tailQ = Sut.tailQuantile(lat.size)
    val late = steadyRel.map(r => r.actualMs - r.schedMs)
    val steadyIds = steadyRel.map(r => fileBatch(r.file)).toSet
    val burstIds = burstRel.map(r => fileBatch(r.file)).toSet
    val steadyEnd = steadyRel.last.actualMs

    val tMeasured = Sut.now()
    val checks = check(ctx, spark, tbl, released)
    val e2e = Map(
      "setup_s" -> Sut.median(setupS),
      "throughput_clips_per_s" -> burst.map(_.clips).sum / ((burstEnd - tBurst) / 1000.0),
      "latency_p50_ms" -> Sut.median(lat),
      "latency_p95_ms" -> Sut.quantile(lat, tailQ),
      "cpu_ms_per_clip" -> (cpu1 - cpu0) / (released.size - warmClips),
      "peak_rss_mb" -> Sut.peakRssMb())
    val genLateP99 = Sut.quantile(late, 0.99)
    val info = Seq(
      f"setup_s reps: ${setupS.map(s => f"$s%.3f").mkString(", ")}",
      f"latency samples: ${lat.size} files, tail quantile p${tailQ * 100}%.1f",
      "batch ms/rows: " + batches.filter(b => steadyIds(b.id) || burstIds(b.id))
        .map(b => f"${b.triggerMs}%.0f/${b.inputRows("/in/clips")}").mkString(" "),
      f"steady: $steadyFiles files x $clipsPerFile clips at $rateClipsPerSec%.0f clips/s; " +
        f"burst: ${burst.size} files, ${burst.map(_.clips).sum} clips",
      f"generator late p99 ${genLateP99}%.2f ms" +
        (if (genLateP99 > math.max(Setup.GeneratorLateLimitMs, periodMs))
          " (generator fell behind)" else ""),
      f"phases s: prepare ${(tSetup - tPrep) / 1000}%.1f, setup ${(cpu0Wall - tSetup) / 1000}%.1f, " +
        f"measure ${(tMeasured - cpu0Wall) / 1000}%.1f, check ${(Sut.now() - tMeasured) / 1000}%.1f")

    val layers = ctx.tracer.map { tr =>
      val steadyB = batches.filter(b => steadyIds.contains(b.id))
      def med(f: Batch => Double) = Some(Sut.median(steadyB.map(f)))
      def phaseSpan(n: String) = tr.all.find(_.name == n).map(_.id).getOrElse(0)
      val (steadySpan, burstSpan) = (phaseSpan("steady"), phaseSpan("burst"))
      val spans = batches.filter(b => steadyIds(b.id) || burstIds(b.id)).map { b =>
        val id = tr.add(if (steadyIds(b.id)) steadySpan else burstSpan, "micro-batch",
          b.startMs, b.commitMs,
          Seq("batch_id" -> b.id.toString, "rows" -> b.p.numInputRows.toString))
        var t = b.startMs
        Setup.Phases.foreach { ph =>
          val d = b.dur(ph)
          if (d > 0) { tr.add(id, "phase." + ph, t, t + d); t += d }
        }
        b.id -> id
      }.toMap
      tr.linkJobs(spans)
      val states = batches.last.p.stateOperators
      val (bytes, files) = Sut.treeBytesAndFiles(dirs.sink(Setup.Reps), ".parquet")
      val readMs = Setup.timeMs(tbl.read(spark).count())
      val compactMs = Setup.timeMs(tbl.compact(spark))
      Map[String, Option[Double]](
        "bench.generator_late_ms_p99" -> Some(genLateP99),
        "streaming.trigger_ms" -> med(_.triggerMs),
        "streaming.latest_offset_ms" -> med(_.dur("latestOffset")),
        "streaming.query_planning_ms" -> med(_.dur("queryPlanning")),
        "streaming.add_batch_ms" -> med(_.dur("addBatch")),
        "streaming.wal_commit_ms" -> med(_.dur("walCommit")),
        "streaming.commit_offsets_ms" -> med(_.dur("commitOffsets")),
        "streaming.batch_fixed_ms" -> med(b => b.triggerMs - b.dur("addBatch")),
        "streaming.trigger_phase_coverage" ->
          med(b => Setup.Phases.map(b.dur).sum / b.triggerMs),
        "streaming.state_rows_total" -> Some(states.map(_.numRowsTotal).sum.toDouble),
        "streaming.state_memory_bytes" -> Some(states.map(_.memoryUsedBytes).sum.toDouble),
        "streaming.state_commit_ms" -> med(_.p.stateOperators.map(_.commitTimeMs).sum.toDouble),
        "streaming.rows_dropped_by_watermark" -> Some(batches.flatMap(_.p.stateOperators)
          .map(_.numRowsDroppedByWatermark).sum.toDouble),
        "streaming.batches" -> Some((steadyIds ++ burstIds).size.toDouble),
        "streaming.rows_per_batch" -> med(_.inputRows("/in/clips").toDouble),
        "streaming.backlog_files_end" ->
          Some(steadyRel.count(r => commitOf(r) > steadyEnd).toDouble),
        "clip_table.bytes_written" -> Some(bytes.toDouble),
        "clip_table.files_written" -> Some(files.toDouble),
        "clip_table.read_ms" -> Some(readMs),
        "clip_table.compact_ms" -> Some(compactMs)) ++
        counters ++ extraLayers(ctx, spark, dirs, burst, e2e)
    }.getOrElse(Map.empty)
    Sut.stop(spark)
    Outcome(e2e, layers, checks, batches.count(b => steadyIds(b.id) || burstIds(b.id)), info)
  }

  /** Workload-specific per-layer metrics of the traced run. */
  def extraLayers(ctx: Ctx, spark: SparkSession, dirs: Dirs, burst: Seq[Staged],
                  e2e: Map[String, Double]): Map[String, Option[Double]] = Map.empty

  /** Writes every slot to the staging area in release order, with
    * increasing modification times so the file source sees that order. */
  private def stage(dirs: Dirs, slots: IndexedSeq[Slot]): IndexedSeq[Staged] = {
    Files.createDirectories(dirs.staging)
    Files.createDirectories(dirs.inClips)
    if (withUpdates) Files.createDirectories(dirs.inUpdates)
    val t0 = System.currentTimeMillis() - 1000L * slots.size
    val out = new Array[Staged](slots.size)
    java.util.stream.IntStream.range(0, slots.size).parallel().forEach { i =>
      val s = slots(i)
      val name = f"f-$i%06d.parquet"
      val f = dirs.staging.resolve(name)
      Corpus.writeClips(f, s.clips)
      Files.setLastModifiedTime(f, FileTime.fromMillis(t0 + 1000L * i))
      val u = if (!withUpdates || s.updates.isEmpty) None else {
        val un = f"u-$i%06d.parquet"
        val uf = dirs.staging.resolve(un)
        Corpus.writeUpdates(uf, s.updates)
        Files.setLastModifiedTime(uf, FileTime.fromMillis(t0 + 1000L * i))
        Some(un)
      }
      out(i) = Staged(name, u, s.clips.size)
    }
    out.toIndexedSeq
  }

  private def release(dirs: Dirs, f: Staged): Unit = {
    f.update.foreach(u => Sut.move(dirs.staging.resolve(u), dirs.inUpdates.resolve(u)))
    Sut.move(dirs.staging.resolve(f.name), dirs.inClips.resolve(f.name))
  }

  private def unrelease(dirs: Dirs, f: Staged): Unit = {
    f.update.foreach(u => Sut.move(dirs.inUpdates.resolve(u), dirs.staging.resolve(u)))
    Sut.move(dirs.inClips.resolve(f.name), dirs.staging.resolve(f.name))
  }

  /** The generator thread: releases file i at t0 + i * period whatever the
    * query is doing, and records when each release actually happened. */
  private def openLoop(dirs: Dirs, files: Seq[Staged], periodMs: Double): Seq[Release] = {
    val out = new Array[Release](files.size)
    val t0 = Sut.wallMs() + 5.0
    val th = new Thread(() => files.indices.foreach { i =>
      val due = t0 + i * periodMs
      var wait = due - Sut.wallMs()
      while (wait > 0) {
        java.util.concurrent.locks.LockSupport.parkNanos((wait * 1e6).toLong)
        wait = due - Sut.wallMs()
      }
      release(dirs, files(i))
      out(i) = Release(files(i).name, files(i).clips, due, Sut.wallMs())
    }, "perfbench-generator")
    th.setPriority(Thread.MAX_PRIORITY)
    th.start()
    th.join()
    out.toSeq
  }

  /** Blocks until the query has committed `n` clip rows; a query that dies
    * or stalls fails the run. */
  private def awaitRows(q: StreamingQuery, n: Long): Unit = {
    val deadline = Sut.now() + Setup.StallLimitMs
    var lastId = -2L
    var done = false
    while (!done) {
      q.exception.foreach(e => throw e)
      val lp = q.lastProgress
      if (lp != null && lp.batchId != lastId) {
        lastId = lp.batchId
        done = Batches.of(q).map(_.inputRows("/in/clips")).sum >= n
      }
      if (!done) {
        if (Sut.now() > deadline) throw new IllegalStateException(s"query stalled below $n rows")
        Thread.sleep(2)
      }
    }
  }
}

/** Constants and helpers shared by the workloads. */
object Setup {
  /** Set-up is repeated this many times per run; the median is reported. */
  val Reps = 3
  val StallLimitMs = 90000.0
  val GeneratorLateLimitMs = 50.0
  val Phases = Seq("latestOffset", "walCommit", "getBatch", "queryPlanning",
    "addBatch", "commitOffsets")

  def timeMs(f: => Any): Double = { val t = Sut.now(); f; Sut.now() - t }

  /** The listener counters of the measured phases. */
  def counters(tr: Tracer): Map[String, Option[Double]] = {
    val t = tr.totals
    Map(
      "stage.executor_run_ms" -> Some(t.runMs),
      "stage.executor_cpu_ms" -> Some(t.cpuMs),
      "stage.gc_ms" -> Some(t.gcMs),
      "stage.input_bytes" -> Some(t.inputBytes.toDouble),
      "stage.shuffle_write_bytes" -> Some(t.shuffleWrite.toDouble),
      "stage.shuffle_read_bytes" -> Some(t.shuffleRead.toDouble),
      "stage.spill_bytes" -> Some(t.spill.toDouble),
      "stage.jobs" -> Some(t.jobs.toDouble),
      "stage.tasks" -> Some(t.tasks.toDouble),
      "operators.broadcast_bytes" -> Some(t.broadcastBytes.toDouble)) ++
      // the near-dup pair counts only where the near-dup verify ran
      (if (t.candidates == 0) Map.empty else Map(
        "operators.dedup_candidate_pairs" -> Some(t.candidates.toDouble),
        "operators.dedup_verified_pairs" -> Some(t.verified.toDouble),
        "operators.dedup_yield" -> Some(t.verified.toDouble / t.candidates)))
  }
}

// ------------------------------------------------------------- workloads

/** The flagship pipeline: 32-band filterbank, RMS and sample count over
  * the decoded clip, card extraction from the transcript, 10 s watermarked
  * tumbling windows, merged into a merge-on-read ClipTable. */
object IngestWindows extends StreamWorkload {
  val name = "ingest_windows"
  val rateClipsPerSec = 200.0
  val clipsPerFile = 20
  val burstClipsPerSec = 400.0
  val maxFilesPerTrigger = 16
  val keyCols = Seq("w_start_ms", "codec", "sr_hz")

  def pipeline(clips: DataFrame): DataFrame = {
    val decoded = clips
      .withColumn("bands", GraftFunctions.pcm_band_energies(
        col("bytes"), col("codec"), col("sr_hz"), 32))
      .withColumn("rms", GraftFunctions.pcm_rms(col("bytes"), col("codec")))
      .withColumn("n_samples", GraftFunctions.pcm_sample_count(col("bytes"), col("codec")))
      .drop("bytes")
    Extraction(ClipQueries.cardsSpec)(decoded)
      .withWatermark("event_time", "30 seconds")
      .groupBy(window(col("event_time"), "10 seconds"), col("codec"), col("sr_hz"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("n_samples")).as("sum_samples"),
        sum(size(col("Phones_text"))).as("n_phones"),
        avg(col("rms")).as("avg_rms"),
        avg(element_at(col("bands"), 1)).as("avg_low_band"),
        avg(element_at(col("bands"), 32)).as("avg_high_band"),
        sum(col("dur_ms")).as("sum_dur_ms"))
      .select(unix_millis(col("window.start")).as("w_start_ms"), col("codec"),
        col("sr_hz"), col("n_rows"), col("sum_samples"), col("n_phones"),
        col("avg_rms"), col("avg_low_band"), col("avg_high_band"), col("sum_dur_ms"))
  }

  def rows(ctx: Ctx, n: Int): IndexedSeq[Clip] =
    Corpus.timed(Corpus.originals(ctx.cache, Corpus.startIndex(ctx.seed), n))

  def table(root: Path): ClipTable =
    ClipTable(root.toString, keyCols, numBuckets = 4, mergeOnRead = true)

  def start(spark: SparkSession, dirs: Dirs, table: ClipTable, ckpt: Path): StreamingQuery =
    ClipStreamJob.runToTable(
      pipeline(ClipStreamJob.readClipStream(spark, dirs.inClips.toString, maxFilesPerTrigger)),
      table, ckpt.toString, Trigger.ProcessingTime(0L), outputMode = "update")

  /** The sink must equal a batch pass of the same composition over every
    * released file: counts and sums exactly, averages to 1e-9 relative
    * (the stream sums them in another order). */
  def check(ctx: Ctx, spark: SparkSession, table: ClipTable,
            released: IndexedSeq[Clip]): Seq[Check] = {
    val batch = pipeline(Sut.readClips(spark, ctx.dirs.inClips))
    val cols = batch.columns.toSeq
    def rowsOf(df: DataFrame) = df.select(cols.map(col): _*).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2)) -> r).toMap
    val want = rowsOf(batch)
    val got = rowsOf(table.read(spark))
    val bad = (want.keySet ++ got.keySet).toSeq.filterNot { k =>
      (want.get(k), got.get(k)) match {
        case (Some(a), Some(b)) => cols.indices.forall { i =>
          (a.get(i), b.get(i)) match {
            case (x: Double, y: Double) =>
              math.abs(x - y) <= 1e-9 * math.max(1.0, math.abs(x))
            case (x, y) => x == y
          }
        }
        case _ => false
      }
    }
    val nRows = want.values.map(_.getLong(3)).sum
    Seq(Check("sink equals batch pass", bad.isEmpty,
      s"${want.size} windows, $nRows extracted rows, ${bad.size} differ"))
  }

  override def extraLayers(ctx: Ctx, spark: SparkSession, dirs: Dirs, burst: Seq[Staged],
                           e2e: Map[String, Double]): Map[String, Option[Double]] = {
    // Single-threaded baseline: the burst files drained again at local[1]
    // (one AvailableNow run over a copy), against the local[cpus] burst.
    val one = dirs.run.resolve("scaling")
    Files.createDirectories(one.resolve("in"))
    burst.foreach(f => Files.copy(dirs.inClips.resolve(f.name), one.resolve("in").resolve(f.name)))
    Sut.stop(spark)
    val s1 = Sut.session(1, dirs)
    try {
      val t = table(one.resolve("sink"))
      val ms = Setup.timeMs(ClipStreamJob.runToTable(
        pipeline(ClipStreamJob.readClipStream(s1, one.resolve("in").toString, maxFilesPerTrigger)),
        t, one.resolve("ckpt").toString, Trigger.AvailableNow(), outputMode = "update")
        .awaitTermination())
      val thr1 = burst.map(_.clips).sum / (ms / 1000.0)
      Map("streaming.scaling_efficiency" ->
        Some(e2e("throughput_clips_per_s") / (thr1 * ctx.cpus)))
    } finally Sut.stop(s1)
  }
}

/** The flagship stream (IngestWindows' composition, rates and sink) over
  * CurateBatch's corpus for the seed, three seconds long: the probe that
  * measures the streaming and clip_table layers in curate_batch's traced
  * run, which runs no stream itself. */
object CurateStreamProbe extends StreamWorkload {
  val name = "curate_stream"
  val rateClipsPerSec = IngestWindows.rateClipsPerSec
  val clipsPerFile = IngestWindows.clipsPerFile
  val burstClipsPerSec = IngestWindows.burstClipsPerSec
  val maxFilesPerTrigger = IngestWindows.maxFilesPerTrigger

  override def originalsNeeded(seconds: Int): Int = CurateBatch.originalsNeeded(seconds)

  def rows(ctx: Ctx, n: Int): IndexedSeq[Clip] = {
    val r = CurateBatch.corpus(ctx)._1
    require(r.size >= n, s"curate corpus has ${r.size} clips, the probe needs $n")
    r
  }

  def table(root: Path): ClipTable = IngestWindows.table(root)
  def start(spark: SparkSession, dirs: Dirs, table: ClipTable, ckpt: Path): StreamingQuery =
    IngestWindows.start(spark, dirs, table, ckpt)
  def check(ctx: Ctx, spark: SparkSession, table: ClipTable,
            released: IndexedSeq[Clip]): Seq[Check] =
    IngestWindows.check(ctx, spark, table, released)
  override def extraLayers(ctx: Ctx, spark: SparkSession, dirs: Dirs, burst: Seq[Staged],
                           e2e: Map[String, Double]): Map[String, Option[Double]] =
    IngestWindows.extraLayers(ctx, spark, dirs, burst, e2e)
}

/** Clips left-outer-joined with late transcript updates (RocksDB state),
  * one sink row per clip. No audio is decoded. */
object JoinUpdates extends StreamWorkload {
  val name = "join_updates"
  val rateClipsPerSec = 120.0
  val clipsPerFile = 20
  val burstClipsPerSec = 220.0
  val maxFilesPerTrigger = 16
  override val withUpdates = true

  def rows(ctx: Ctx, n: Int): IndexedSeq[Clip] =
    Corpus.timed(Corpus.originals(ctx.cache, Corpus.startIndex(ctx.seed), n))

  def table(root: Path): ClipTable =
    ClipTable(root.toString, Seq("clip_id"), numBuckets = 4, mergeOnRead = true)

  def start(spark: SparkSession, dirs: Dirs, table: ClipTable, ckpt: Path): StreamingQuery = {
    val clips = ClipStreamJob.readClipStream(spark, dirs.inClips.toString, maxFilesPerTrigger)
    val updates = ClipStreamJob.readUpdateStream(spark, dirs.inUpdates.toString, maxFilesPerTrigger)
    ClipStreamJob.runToTable(ClipStreamJob.joinUpdates(clips, updates), table,
      ckpt.toString, Trigger.ProcessingTime(0L), outputMode = "append")
  }

  /** Every planted update joined (updated = true rows are exactly the
    * planted ones, with the update's transcript), no clip twice, and no
    * more rows than clips released. Unmatched clips still inside the join
    * window are held in state, not lost. */
  def check(ctx: Ctx, spark: SparkSession, table: ClipTable,
            released: IndexedSeq[Clip]): Seq[Check] = {
    val got = table.read(spark).select("clip_id", "updated", "transcript").collect()
      .map(r => (r.getString(0), r.getBoolean(1), r.getString(2))).toSeq
    val planted = released.filter(c => Corpus.isUpdated(ctx.seed, c.id))
      .map(c => c.id -> Corpus.update(c).transcript).toMap
    val updated = got.filter(_._2).map(r => r._1 -> r._3).toMap
    val ids = got.map(_._1)
    Seq(
      Check("updated rows equal planted updates", updated == planted,
        s"${updated.size} updated rows, ${planted.size} planted"),
      Check("no duplicate clip_id", ids.distinct.size == ids.size, s"${ids.size} rows"),
      Check("rows <= clips released", ids.size <= released.size,
        s"${ids.size} rows, ${released.size} released, ${released.size - ids.size} held in state"))
  }
}

/** Incremental exact near-dup dedup on ingest: each batch reads the sink's
  * fingerprints, checks the delta, and merges the survivors. */
object DedupIngest extends StreamWorkload {
  val name = "dedup_ingest"
  val rateClipsPerSec = 150.0
  val clipsPerFile = 5
  val burstClipsPerSec = 300.0
  val maxFilesPerTrigger = 64

  /** Share of originals that get re-uploaded later in the stream. */
  val ReuploadShare = 0.06
  /** The first batch of an empty table skips the dedup path; the second
    * warm-up batch runs it. */
  override val warmFiles = 2

  def rows(ctx: Ctx, n: Int): IndexedSeq[Clip] = {
    val r = Corpus.rng(ctx.seed, 7)
    val nOrig = math.ceil(n / (1 + ReuploadShare * 1.5)).toInt + clipsPerFile
    val orig = Corpus.originals(ctx.cache, Corpus.startIndex(ctx.seed), nOrig)
    // each picked original gets one or two re-uploads with distinct trims,
    // inserted one to four files after it
    val inserts = orig.indices.filter(_ => r.nextDouble() < ReuploadShare).flatMap { i =>
      val trims = Seq(1 + r.nextInt(80), 81 + r.nextInt(80)).take(1 + r.nextInt(2))
      trims.zipWithIndex.map { case (t, j) =>
        val at = i + clipsPerFile * (1 + r.nextInt(4))
        at -> Corpus.reupload(orig(i), s"${orig(i).id}-r${j + 1}", t)
      }
    }
    val byPos = inserts.groupBy(_._1)
    val merged = orig.indices.flatMap(i => orig(i) +: byPos.getOrElse(i, Nil).map(_._2)) ++
      byPos.filter(_._1 >= orig.size).toSeq.sortBy(_._1).flatMap(_._2.map(_._2))
    Corpus.timed(merged.take(n))
  }

  def table(root: Path): ClipTable =
    ClipTable(root.toString, Seq("clip_id"), numBuckets = 4, mergeOnRead = true)

  def start(spark: SparkSession, dirs: Dirs, table: ClipTable, ckpt: Path): StreamingQuery =
    ClipStreamJob.runDedupedToTable(
      ClipStreamJob.readClipStream(spark, dirs.inClips.toString, maxFilesPerTrigger),
      table, ckpt.toString, Trigger.ProcessingTime(0L))

  /** The ids missing from the sink are exactly the planted re-uploads. */
  def check(ctx: Ctx, spark: SparkSession, table: ClipTable,
            released: IndexedSeq[Clip]): Seq[Check] = {
    val ids = table.read(spark).select("clip_id").collect().map(_.getString(0)).toSeq
    val planted = released.map(_.id).filter(_.contains("-r")).toSet
    val dropped = released.map(_.id).toSet -- ids
    Seq(
      Check("dropped ids equal planted re-uploads", dropped == planted,
        s"${dropped.size} dropped, ${planted.size} planted, " +
          s"${(dropped -- planted).size} wrongly dropped, ${(planted -- dropped).size} missed"),
      Check("no duplicate clip_id", ids.distinct.size == ids.size, s"${ids.size} rows"))
  }
}
