package perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.audio.AudioCodec
import graft.functions.GraftFunctions
import graft.operators.{Dedup, Extraction}
import graft.queries.ClipQueries

final case class Check(name: String, ok: Boolean, detail: String)

/** What one workload run measured. `ops` counts the operations it ran
  * (micro-batches or jobs); checks count as operations too. */
final case class Outcome(e2e: Map[String, Double], layers: Map[String, Option[Double]],
                         checks: Seq[Check], ops: Int, info: Seq[String])

final class Ctx(val seed: Long, val seconds: Int, val cpus: Int, val dirs: Dirs,
                val cache: Path, val tracer: Option[Tracer]) {
  /** A fixed sample of the workload's own clips for the kernel timings. */
  @volatile var kernelSample: IndexedSeq[Clip] = IndexedSeq.empty
  def sample(rows: IndexedSeq[Clip]): Unit =
    kernelSample = rows.indices.filter(_ % math.max(1, rows.size / Layers.SampleSize) == 0)
      .take(Layers.SampleSize).map(rows)

  def span[A](name: String)(f: => A): A = tracer match {
    case Some(t) => t.span(name)(f)
    case None => f
  }
}

trait Workload {
  def name: String
  def run(ctx: Ctx): Outcome
  /** Originals a run of this length takes from the corpus, at most. */
  def originalsNeeded(seconds: Int): Int
}

/** The batch curation job from input to complete result:
  * audioNearDupShift -> components -> keepBest, over a corpus with planted
  * duplicate families: stars (re-uploads of one original) and multi-hop
  * chains (each hop a re-upload of the previous one, so the chain's ends
  * are too far apart to pair directly and components needs several rounds). */
object CurateBatch extends Workload {
  val name = "curate_batch"
  val Originals = 800
  val Stars = 32
  val Chains = 12
  val ChainHops = 3
  val Files0 = 8

  final case class Family(root: String, members: Set[String])

  def originalsNeeded(seconds: Int): Int = Originals

  /** The seed picks the index range and which originals get families;
    * the family counts are fixed so every seed asks for the same work. */
  def corpus(ctx: Ctx): (IndexedSeq[Clip], Seq[Family]) = {
    val r = Corpus.rng(ctx.seed, 11)
    val orig = Corpus.originals(ctx.cache, Corpus.startIndex(ctx.seed), Originals)
    val picked = scala.util.Random.javaRandomToRandom(new java.util.Random(r.nextLong()))
      .shuffle(orig.indices.toList).take(Stars + Chains)
    val fams = picked.zipWithIndex.map { case (i, k) =>
      val o = orig(i)
      if (k < Stars) {
        val trims = Seq(1 + r.nextInt(50), 51 + r.nextInt(50), 101 + r.nextInt(60))
          .take(2 + r.nextInt(2))
        o -> trims.zipWithIndex.map { case (t, j) =>
          Corpus.reupload(o, s"${o.id}-s${j + 1}", t) }
      } else {
        // 160 samples per hop: each hop pairs with its neighbours only
        o -> (1 to ChainHops).scanLeft(o) { (prev, j) =>
          Corpus.reupload(prev, s"${o.id}-c$j", 160) }.tail
      }
    }
    val rows = Corpus.timed(orig ++ fams.flatMap(_._2))
    (rows, fams.map { case (o, ms) => Family(o.id, ms.map(_.id).toSet + o.id) })
  }

  /** One curation pass; returns (id, canonical_id) and (id, keep_id). */
  def job(ctx: Ctx, spark: SparkSession, in: Path)
      : (Seq[(String, String)], Seq[(String, String)]) = Dedup.withCandidates {
    val clips = Sut.readClips(spark, in).select("clip_id", "bytes", "codec", "sr_hz")
    val pairs = ctx.span("audioNearDupShift")(
      Dedup.audioNearDupShift(clips).localCheckpoint(true))
    val labels = ctx.span("components")(Dedup.components(pairs).localCheckpoint(true))
    val quality = clips.select(col("clip_id"),
      GraftFunctions.pcm_sample_count(col("bytes"), col("codec")).as("q"))
    val keep = ctx.span("keepBest")(
      Dedup.keepBest(labels, quality, "clip_id", "q").collect())
    (labels.collect().map(r => r.getString(0) -> r.getString(1)).toSeq,
      keep.map(r => r.getString(0) -> r.getString(1)).toSeq)
  }

  def run(ctx: Ctx): Outcome = {
    val dirs = ctx.dirs
    val (rows, fams) = corpus(ctx)
    ctx.sample(rows)
    Files.createDirectories(dirs.inClips)
    val per = (rows.size + Files0 - 1) / Files0
    rows.grouped(per).zipWithIndex.foreach { case (g, i) =>
      Corpus.writeClips(dirs.inClips.resolve(f"f-$i%06d.parquet"), g) }
    val warmDir = dirs.run.resolve("warm")
    Files.createDirectories(warmDir)
    Corpus.writeClips(warmDir.resolve("w.parquet"), rows.take(per))
    Sut.warmPageCache(dirs.run)

    var spark: SparkSession = null
    val setupS = (1 to Setup.Reps).map { _ =>
      if (spark != null) Sut.stop(spark)
      val t0 = Sut.now()
      spark = Sut.session(ctx.cpus, dirs)
      job(new Ctx(ctx.seed, ctx.seconds, ctx.cpus, dirs, ctx.cache, None), spark, warmDir)
      (Sut.now() - t0) / 1000.0
    }
    ctx.tracer.foreach { t => t.attach(spark); t.reset() }

    val cpu0 = Sut.cpuMs()
    val t0 = Sut.now()
    val runs = scala.collection.mutable.ArrayBuffer[(Double, (Seq[(String, String)],
      Seq[(String, String)]))]()
    while (runs.size < 2 || Sut.now() - t0 < ctx.seconds * 1000.0) {
      val s = Sut.now()
      val out = ctx.span("curate-job")(job(ctx, spark, dirs.inClips))
      runs += ((Sut.now() - s) -> out)
    }
    val cpu1 = Sut.cpuMs()
    val lat = runs.map(_._1).toSeq
    val tailQ = Sut.tailQuantile(lat.size)

    val (labels, keep) = runs.last._2
    val got = labels.groupBy(_._2).values.map(_.map(_._1).toSet).toSet
    val want = fams.map(_.members).toSet
    val keepOf = keep.toMap
    val wrongKeep = fams.flatMap(f => f.members.filter(m => !keepOf.get(m).contains(f.root)))
    val checks = Seq(
      Check("families equal planted", got == want,
        s"${got.size} families found, ${want.size} planted, ${(got -- want).size} unplanted"),
      Check("keepBest picks planted best", wrongKeep.isEmpty,
        s"${keep.size} members, ${wrongKeep.size} with another keep id"))
    val e2e = Map(
      "setup_s" -> Sut.median(setupS),
      "throughput_clips_per_s" -> rows.size * runs.size / (lat.sum / 1000.0),
      "latency_p50_ms" -> Sut.median(lat),
      "latency_p95_ms" -> Sut.quantile(lat, tailQ),
      "cpu_ms_per_clip" -> (cpu1 - cpu0) / (rows.size.toDouble * runs.size),
      "peak_rss_mb" -> Sut.peakRssMb())
    val info = Seq(
      f"setup_s reps: ${setupS.map(s => f"$s%.3f").mkString(", ")}",
      f"latency samples: ${lat.size} jobs over ${rows.size} clips, tail quantile p${tailQ * 100}%.1f",
      s"families: ${fams.size} planted, " +
        s"${fams.count(_.members.exists(_.contains("-c")))} of them chains")

    val layers = ctx.tracer.map { tr =>
      tr.drain(spark)
      // counters per curation job: the loop runs as many jobs as fit the run
      val counters = Setup.counters(tr).map {
        case (k, v) if k.endsWith("_yield") => k -> v
        case (k, v) => k -> v.map(_ / runs.size)
      }
      tr.linkJobs(Map.empty)
      val spans = tr.all
      def stepMs(n: String) = Sut.median(spans.filter(_.name == n).map(_.durMs))
      val jobs = spans.filter(_.name == "job")
      val comp = spans.filter(_.name == "components")
      val compJobs = comp.map(c => jobs.count(j => j.parent == c.id).toDouble)
      Map[String, Option[Double]](
        "operators.components_s" -> Some(stepMs("components") / 1000.0),
        "operators.components_jobs" -> Some(Sut.median(compJobs)),
        "operators.keep_best_s" -> Some(stepMs("keepBest") / 1000.0),
        "plans.planning_ms" -> Some(tr.totals.planningMs / runs.size)) ++ counters
    }.getOrElse(Map.empty)
    Sut.stop(spark)
    Outcome(e2e, layers, checks, runs.size, info)
  }
}

/** Direct timed calls into each layer's public functions, traced run only. */
object Layers {
  val SampleSize = 96
  val MinLoopMs = 250.0

  private def usPer(n: Int)(f: => Unit): Double = {
    f // warm
    var calls = 0
    val t0 = Sut.now()
    while (Sut.now() - t0 < MinLoopMs) { f; calls += 1 }
    (Sut.now() - t0) * 1000.0 / (calls.toDouble * n)
  }

  /** Single-thread kernel costs on the workload's own clips. */
  def audio(sample: IndexedSeq[Clip]): Map[String, Option[Double]] = {
    val twins = sample.map(c => Corpus.reupload(c, c.id + "-t", 80))
    var sink = 0.0
    val n = sample.size
    val m = Map(
      "audio.decode_us_per_clip" -> usPer(n)(sample.foreach(c =>
        sink += AudioCodec.decode(c.bytes, c.codec).length)),
      "audio.band_energies32_us_per_clip" -> usPer(n)(sample.foreach(c =>
        sink += AudioCodec.bandEnergies(c.bytes, c.codec, c.sr, 32)(0))),
      "audio.tone_pair_us_per_clip" -> usPer(n)(sample.foreach(c =>
        sink += AudioCodec.tonePair(c.bytes, c.codec, c.sr)(0))),
      "audio.aligned_corr_us_per_pair" -> usPer(n)(sample.indices.foreach(i =>
        sink += AudioCodec.alignedCorr(sample(i).bytes, sample(i).codec,
          twins(i).bytes, twins(i).codec))))
    require(!sink.isNaN)
    m.map { case (k, v) => k -> Some(v) }
  }

  /** Codegen'd expression and extraction cost per clip: a local[1]
    * noop-sink pass over the workload's input files, second pass timed. */
  def functions(dirs: Dirs): Map[String, Option[Double]] = {
    val s = Sut.session(1, dirs)
    try {
      val clips = Sut.readClips(s, dirs.inClips)
      val n = clips.count().toDouble
      def pass(df: org.apache.spark.sql.DataFrame): Double = {
        df.write.format("noop").mode("overwrite").save()
        Setup.timeMs(df.write.format("noop").mode("overwrite").save()) * 1000.0 / n
      }
      Map(
        "functions.band_energies_expr_us_per_clip" -> Some(pass(clips.select(
          GraftFunctions.pcm_band_energies(col("bytes"), col("codec"), col("sr_hz"), 32)))),
        "operators.extraction_us_per_clip" -> Some(pass(
          Extraction(ClipQueries.cardsSpec)(clips.drop("bytes")))))
    } finally Sut.stop(s)
  }
}
