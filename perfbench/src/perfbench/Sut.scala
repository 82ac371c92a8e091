package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}

import graft.GraftSession
import graft.functions.GraftFunctions
import graft.streaming.ClipStreamJob

/** Where one run keeps its files; everything sits inside the checkout. */
final case class Dirs(run: Path) {
  val staging: Path = run.resolve("staging")
  val inClips: Path = run.resolve("in/clips")
  val inUpdates: Path = run.resolve("in/updates")
  def sink(i: Int): Path = run.resolve(s"sink-$i")
  def ckpt(i: Int): Path = run.resolve(s"ckpt-$i")
  def tmp: Path = run.resolve("tmp")
}

/** Session start-up and the measurements every workload shares. */
object Sut {
  def now(): Double = System.nanoTime() / 1e6
  private val anchorNs = System.nanoTime()
  private val anchorMs = System.currentTimeMillis().toDouble
  /** Wall-clock epoch milliseconds with nanoTime resolution, comparable to
    * the progress timestamps Spark reports. */
  def wallMs(): Double = anchorMs + (System.nanoTime() - anchorNs) / 1e6

  /** Session start with the program's extensions and function registry,
    * the way `GraftSession.create` does it, plus the run's local dirs. */
  def session(cpus: Int, dirs: Dirs): SparkSession = {
    val s = GraftSession.builder(s"local[$cpus]", cpus, "perfbench")
      .config("spark.local.dir", dirs.tmp.toString)
      .config("spark.sql.warehouse.dir", dirs.tmp.resolve("warehouse").toString)
      .config("spark.sql.streaming.numRecentProgressUpdates", "5000")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    GraftFunctions.register(s)
    s
  }

  def stop(s: SparkSession): Unit = {
    s.streams.active.foreach(q => scala.util.Try(q.stop()))
    s.stop()
    SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
  }

  def readClips(s: SparkSession, dir: Path): DataFrame =
    s.read.schema(ClipStreamJob.clipSchema).parquet(dir.toString)

  def cpuMs(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e6

  /** Peak resident set of this process (VmHWM), native memory included. */
  def peakRssMb(): Double =
    Files.readAllLines(java.nio.file.Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.replaceAll("[^0-9]", "").toDouble / 1024.0)
      .getOrElse(Double.NaN)

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted.toIndexedSeq
    if (s.isEmpty) Double.NaN
    else {
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }

  /** The highest percentile (at most the 95th) with at least ten samples
    * beyond it; the median when the sample is too small for any. */
  def tailQuantile(n: Int): Double =
    if (n < 20) 0.5 else math.min(0.95, 1.0 - 10.0 / n)

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
      finally s.close()
    }

  def treeBytesAndFiles(p: Path, suffix: String): (Long, Long) =
    if (!Files.exists(p)) (0L, 0L)
    else {
      val s = Files.walk(p)
      try {
        val fs = s.iterator().asScala.filter(f => f.toString.endsWith(suffix) &&
          Files.isRegularFile(f)).toSeq
        (fs.map(Files.size).sum, fs.size.toLong)
      } finally s.close()
    }

  /** Reads every staged byte once so the measured runs read from the page
    * cache, not the disk. */
  def warmPageCache(p: Path): Unit = {
    val s = Files.walk(p)
    try s.iterator().asScala.filter(Files.isRegularFile(_)).foreach { f =>
      val in = Files.newInputStream(f)
      try { val buf = new Array[Byte](1 << 20); while (in.read(buf) >= 0) () }
      finally in.close()
    } finally s.close()
  }

  def move(from: Path, to: Path): Unit =
    Files.move(from, to, StandardCopyOption.ATOMIC_MOVE)
}

/** The micro-batches of one streaming query, read from its progress
  * reports: commit time is the trigger's start plus `triggerExecution`. */
final case class Batch(p: StreamingQueryProgress) {
  def id: Long = p.batchId
  def startMs: Double = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
  def dur(k: String): Double =
    Option(p.durationMs.get(k)).map(_.longValue.toDouble).getOrElse(0.0)
  def triggerMs: Double = dur("triggerExecution")
  def commitMs: Double = startMs + triggerMs
  def inputRows(sourceMarker: String): Long =
    p.sources.filter(_.description.contains(sourceMarker)).map(_.numInputRows).sum

  /** The file-source log offsets this batch consumed: (start, end]. */
  def logRange(sourceMarker: String): (Long, Long) = {
    def off(json: String) = Option(json).flatMap(j =>
      "\"logOffset\":(\\d+)".r.findFirstMatchIn(j)).map(_.group(1).toLong).getOrElse(-1L)
    p.sources.find(_.description.contains(sourceMarker))
      .map(s => (off(s.startOffset), off(s.endOffset))).getOrElse((-1L, -1L))
  }
}

object Batches {
  def of(q: StreamingQuery): Seq[Batch] =
    q.recentProgress.toSeq.map(Batch(_)).groupBy(_.id).values.map(_.last).toSeq
      .sortBy(_.id)

  /** File name -> the micro-batch that consumed it. The file source's
    * metadata log in the checkpoint gives each file's log offset, and each
    * batch's progress gives the log offsets it consumed. */
  def fileBatches(ckpt: Path, batches: Seq[Batch], marker: String): Map[String, Long] = {
    val ranges = batches.map(b => b.id -> b.logRange(marker))
    fileLogOffsets(ckpt).flatMap { case (f, off) =>
      ranges.find { case (_, (lo, hi)) => lo < off && off <= hi }.map(f -> _._1)
    }
  }

  /** File name -> file-source log offset, from the metadata log in the
    * query's checkpoint (compacted or not). */
  private def fileLogOffsets(ckpt: Path): Map[String, Long] = {
    val root = ckpt.resolve("sources")
    if (!Files.exists(root)) Map.empty
    else {
      val entry = "\"path\":\"([^\"]+)\".*\"batchId\":(\\d+)".r.unanchored
      val s = Files.walk(root)
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .filterNot(_.getFileName.toString.startsWith("."))
        .flatMap(f => Files.readAllLines(f).asScala)
        .collect { case entry(path, b) =>
          java.nio.file.Paths.get(new java.net.URI(path)).getFileName.toString -> b.toLong }
        .toMap
      finally s.close()
    }
  }
}
