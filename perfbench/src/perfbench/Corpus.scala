package perfbench

import java.io.{BufferedInputStream, BufferedOutputStream, DataInputStream, DataOutputStream}
import java.nio.file.{Files, Path, StandardCopyOption}

import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.ParquetFileWriter
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.io.LocalOutputFile
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.MessageTypeParser

import graft.audio.{AudioCodec, AudioSynth}
import graft.fixtures.{ClipGen, Persons}

/** One generated input row: the program's clip schema plus the event time
  * the generator assigns from the row's release position. */
final case class Clip(id: String, bytes: Array[Byte], sr: Int, durMs: Int,
    codec: String, transcript: String, personIdx: Int, eventUs: Long)

final case class Update(id: String, transcript: String, updateUs: Long)

/** One release slot: the clip file (and, for the join, the update file)
  * the generator moves into the watched directories together. */
final case class Slot(clips: Seq[Clip], updates: Seq[Update])

/** The seeded input generator. Rows come from `ClipGen.clipRow` over a
  * clip-index range the seed picks; everything else the seed picks too
  * (late-update subset, re-uploads, duplicate families). Synthesis is the
  * expensive part, so synthesized rows are cached in blocks keyed by clip
  * index and shared by every seed and workload that touches the block. */
object Corpus {
  val BlockSize = 256
  /** Bump to invalidate cached blocks. */
  val Version = 1
  /** The seed picks the first block among this many. */
  val StartBlocks = 32
  val EpochUs: Long = ClipGen.EpochBase.toEpochMilli * 1000L
  /** Update delay after the clip's event time, as in ClipGen.updatesDf. */
  val UpdateDelayUs = 15000000L

  def rng(seed: Long, salt: Long) =
    new java.util.SplittableRandom(AudioSynth.mix64(seed * 0x9E3779B97F4A7C15L + salt))

  def startIndex(seed: Long): Long =
    java.lang.Long.remainderUnsigned(AudioSynth.mix64(seed), StartBlocks.toLong) * BlockSize

  /** Rows `from until from + n` of ClipGen's index space, event time unset. */
  def originals(cache: Path, from: Long, n: Int): IndexedSeq[Clip] = {
    val b0 = from / BlockSize
    val b1 = (from + n - 1) / BlockSize
    val rows = (b0 to b1).flatMap(b => block(cache, b))
    rows.slice((from - b0 * BlockSize).toInt, (from - b0 * BlockSize).toInt + n)
  }

  /** Synthesizes every block a workload needing `n` originals can touch,
    * for any seed, so no measured run synthesizes. */
  def ensure(cache: Path, n: Int): Unit =
    (0L until StartBlocks + (n + BlockSize - 1) / BlockSize + 1L)
      .filterNot(b => Files.exists(blockFile(cache, b))).foreach(block(cache, _))

  private def blockFile(cache: Path, b: Long): Path = cache.resolve(s"block-v$Version-$b.bin")

  private def block(cache: Path, b: Long): IndexedSeq[Clip] = {
    val f = blockFile(cache, b)
    if (Files.exists(f)) readBlock(f)
    else {
      val rows = new Array[Clip](BlockSize)
      java.util.stream.IntStream.range(0, BlockSize).parallel().forEach { i =>
        val r = ClipGen.clipRow(b * BlockSize + i)
        rows(i) = Clip(r.clip_id, r.bytes, r.sr_hz, r.dur_ms, r.codec, r.transcript,
          r.person_idx, 0L)
      }
      Files.createDirectories(cache)
      val tmp = Files.createTempFile(cache, s".block-$b", ".tmp")
      writeBlock(tmp, rows)
      Files.move(tmp, f, StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
      rows.toIndexedSeq
    }
  }

  private def writeBlock(f: Path, rows: Seq[Clip]): Unit = {
    val out = new DataOutputStream(new BufferedOutputStream(Files.newOutputStream(f), 1 << 16))
    try {
      out.writeInt(rows.size)
      rows.foreach { c =>
        out.writeUTF(c.id); out.writeInt(c.bytes.length); out.write(c.bytes)
        out.writeInt(c.sr); out.writeInt(c.durMs); out.writeUTF(c.codec)
        val t = c.transcript.getBytes("UTF-8"); out.writeInt(t.length); out.write(t)
        out.writeInt(c.personIdx)
      }
    } finally out.close()
  }

  private def readBlock(f: Path): IndexedSeq[Clip] = {
    val in = new DataInputStream(new BufferedInputStream(Files.newInputStream(f), 1 << 16))
    try {
      val n = in.readInt()
      (0 until n).map { _ =>
        val id = in.readUTF()
        val bytes = new Array[Byte](in.readInt()); in.readFully(bytes)
        val sr = in.readInt(); val dur = in.readInt(); val codec = in.readUTF()
        val t = new Array[Byte](in.readInt()); in.readFully(t)
        Clip(id, bytes, sr, dur, codec, new String(t, "UTF-8"), in.readInt(), 0L)
      }
    } finally in.close()
  }

  // ------------------------------------------------------------ planting

  /** A re-upload: `src` with `trim` leading samples dropped, transcoded to
    * the other G.711 codec (the c15 attack). */
  def reupload(src: Clip, id: String, trim: Int): Clip = {
    val bytesPerSample = if (src.codec == AudioCodec.Pcm16) 2 else 1
    val trimmed = java.util.Arrays.copyOfRange(src.bytes,
      math.min(src.bytes.length, trim * bytesPerSample), src.bytes.length)
    val target = if (src.codec == AudioCodec.Ulaw) AudioCodec.Alaw else AudioCodec.Ulaw
    val bytes = AudioCodec.transcode(trimmed, src.codec, target)
    src.copy(id = id, bytes = bytes, codec = target,
      durMs = (AudioCodec.sampleCount(bytes.length, target).toLong * 1000L / src.sr).toInt)
  }

  /** Assigns event times from release order: the ClipGen clock, dur_ms per
    * clip divided by `Streams` overlapping speakers. */
  def timed(rows: Seq[Clip]): IndexedSeq[Clip] = {
    var us = EpochUs
    rows.map { c =>
      val r = c.copy(eventUs = us)
      us += c.durMs.toLong * 1000L / ClipGen.Streams
      r
    }.toIndexedSeq
  }

  /** The seeded late-update subset (~20%, like ClipGen.isUpdated). */
  def isUpdated(seed: Long, id: String): Boolean =
    java.lang.Long.remainderUnsigned(
      AudioSynth.mix64(seed * 31L + AudioSynth.hash64(id)), 5L) == 0L

  def update(c: Clip): Update =
    Update(c.id, Persons.enrichedTranscript(Persons.all(c.personIdx)),
      c.eventUs + UpdateDelayUs)

  /** Cuts release-ordered rows into slots of `perFile` clips and, when
    * `withUpdates`, places each planted update in the first slot whose
    * clips reach its update time (leftovers ride the last slot). */
  def slots(rows: IndexedSeq[Clip], perFile: Int, seed: Long,
            withUpdates: Boolean): IndexedSeq[Slot] = {
    val files = rows.grouped(perFile).toIndexedSeq
    if (!withUpdates) files.map(Slot(_, Nil))
    else {
      val ups = rows.filter(c => isUpdated(seed, c.id)).map(update)
      val ends = files.map(_.last.eventUs)
      val bySlot = ups.groupBy { u =>
        val i = ends.indexWhere(_ >= u.updateUs)
        if (i < 0) files.length - 1 else i
      }
      files.indices.map(i => Slot(files(i), bySlot.getOrElse(i, Nil)))
    }
  }

  // ------------------------------------------------------------ parquet

  private val clipType = MessageTypeParser.parseMessageType(
    """message clip {
      |  required binary clip_id (STRING);
      |  required binary bytes;
      |  required int32 sr_hz;
      |  required int32 dur_ms;
      |  required binary codec (STRING);
      |  required binary transcript (STRING);
      |  required int32 person_idx;
      |  required int64 event_time (TIMESTAMP(MICROS,true));
      |}""".stripMargin)

  private val updateType = MessageTypeParser.parseMessageType(
    """message update {
      |  required binary clip_id (STRING);
      |  required binary transcript (STRING);
      |  required int64 update_time (TIMESTAMP(MICROS,true));
      |}""".stripMargin)

  private def writer(f: Path, t: org.apache.parquet.schema.MessageType) =
    ExampleParquetWriter.builder(new LocalOutputFile(f)).withType(t)
      .withCompressionCodec(CompressionCodecName.UNCOMPRESSED)
      .withDictionaryEncoding(false)
      .withWriteMode(ParquetFileWriter.Mode.OVERWRITE).build()

  def writeClips(f: Path, rows: Seq[Clip]): Unit = {
    val g = new SimpleGroupFactory(clipType)
    val w = writer(f, clipType)
    try rows.foreach { c =>
      w.write(g.newGroup().append("clip_id", c.id)
        .append("bytes", Binary.fromConstantByteArray(c.bytes))
        .append("sr_hz", c.sr).append("dur_ms", c.durMs).append("codec", c.codec)
        .append("transcript", c.transcript).append("person_idx", c.personIdx)
        .append("event_time", c.eventUs))
    } finally w.close()
  }

  def writeUpdates(f: Path, rows: Seq[Update]): Unit = {
    val g = new SimpleGroupFactory(updateType)
    val w = writer(f, updateType)
    try rows.foreach { u =>
      w.write(g.newGroup().append("clip_id", u.id).append("transcript", u.transcript)
        .append("update_time", u.updateUs))
    } finally w.close()
  }
}
