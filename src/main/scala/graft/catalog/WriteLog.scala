package graft.catalog

import java.io.{ByteArrayOutputStream, DataInputStream, DataOutputStream}
import java.nio.ByteBuffer
import java.nio.channels.{FileChannel, OverlappingFileLockException}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, StandardOpenOption}
import java.util.concurrent.locks.ReentrantReadWriteLock
import java.util.zip.CRC32

import scala.jdk.CollectionConverters._

/** One acknowledged single-record insert waiting for its flush: the
  * record's columns by name, and when it arrived (for the age trigger). */
private[catalog] final case class Buffered(values: Map[String, Any], atNanos: Long)

/** A log segment this JVM owns. The open channel holds the OS lock that
  * tells other processes the segment is live (see [[MetricLog]]); closing
  * it releases the lock. */
private[catalog] final class Segment(val id: Long, val path: Path, ch: FileChannel) {

  /** Append one framed record and force it to disk: the insert is
    * acknowledged only after this returns. */
  def append(frame: Array[Byte]): Unit = {
    val buf = ByteBuffer.wrap(frame)
    while (buf.hasRemaining) ch.write(buf)
    ch.force(false)
  }

  def release(): Unit = ch.close()
}

/**
 * The write buffer of one metric, shared by every [[Warehouse]] in the JVM
 * on the same metric path: the acknowledged records that are not yet in
 * parquet, and the log segments under `<metric>/wal/` that make them
 * durable.
 *
 * `records`, `current` and `pending` change only under the metric's write
 * lock. `records` is an immutable vector behind a volatile field, so a
 * reader takes a consistent snapshot without that lock; the flush's publish
 * step swaps files in and drops the flushed prefix under the `visibility`
 * write lock, and a reader holds its read lock while it snapshots
 * `records` and lists the files, so it sees every record exactly once.
 * `flushing` serializes flushes: one runs its Spark job outside the write
 * lock while inserts go on.
 */
private[catalog] final class MetricLog(val dir: Path) {
  @volatile var records: Vector[Buffered] = Vector.empty
  @volatile var current: Option[Segment]   = None
  @volatile var pending: Vector[Segment]    = Vector.empty
  @volatile var recovered                  = false
  /** the warehouse and coordinates of the latest use: the flusher writes through them */
  @volatile var owner: Option[(Warehouse, Coords)] = None
  /** no background flush before this time, after a failed one */
  @volatile var retryAtNanos               = 0L
  val flushing                             = new Object
  val visibility                           = new ReentrantReadWriteLock()

  def walDir: Path = dir.resolve("wal")

  /** Due for a background flush: enough records, or the oldest is old enough. */
  def due(now: Long): Boolean = {
    val rs = records
    rs.nonEmpty && now >= retryAtNanos &&
      (rs.size >= WriteLog.FlushRecords || now - rs.head.atNanos >= WriteLog.FlushAgeNanos)
  }

  /** Our log directory was deleted behind our back (the metric was dropped
    * by another process or its directory removed): the buffer is void. */
  def stale: Boolean = (current.nonEmpty || pending.nonEmpty) && !Files.isDirectory(walDir)

  /** Append a record to the open segment (opening one if needed), force
    * it, then make it visible. Caller holds the metric's write lock. */
  def append(values: Map[String, Any]): Unit = {
    val seg = current.getOrElse {
      val s = WriteLog.create(walDir, WriteLog.nextId(walDir))
      current = Some(s)
      s
    }
    // a failed append may leave a torn frame, and replay stops at the first
    // one: the segment takes no more appends, so no acknowledged record
    // ever follows it
    try seg.append(WriteLog.frame(values))
    catch { case e: Throwable => sealCurrent(); throw e }
    records = records :+ Buffered(values, System.nanoTime())
  }

  /** Close the open segment for appends: the next insert opens a new one. */
  def sealCurrent(): Unit = { pending = pending ++ current; current = None }

  /** Forget everything buffered and release every segment (drop, or a stale log). */
  def discard(): Unit = {
    (current.toSeq ++ pending).foreach(_.release())
    current = None; pending = Vector.empty; records = Vector.empty; retryAtNanos = 0L
  }

  def withVisibility[A](write: Boolean)(body: => A): A = {
    val l = if (write) visibility.writeLock() else visibility.readLock()
    l.lock()
    try body finally l.unlock()
  }
}

/**
 * Log segment format and file naming. A segment `<metric>/wal/<id>.log` is
 * a sequence of frames `[payload length: int][crc32: int][payload]`; a
 * payload is the record's field count, then per field its name, a type tag
 * (`L` long, `I` int, `D` double, `S` string) and its value. A torn tail
 * (a crash mid-append, never acknowledged) fails the length or CRC check
 * and ends the replay. `<id>.published` marks a flush as committed; it
 * lists the segment ids the flush covered. A flush stages its parquet
 * under `<metric>/.staging/<id>/`.
 */
private[catalog] object WriteLog {

  /** Flush when this many records are buffered... */
  val FlushRecords: Int = 4096
  /** ...or when the oldest buffered record is this old. */
  val FlushAgeNanos: Long = 15L * 1000000000L

  private val SegmentSuffix   = ".log"
  private val PublishedSuffix = ".published"

  def segmentPath(wal: Path, id: Long): Path   = wal.resolve(f"$id%020d$SegmentSuffix")
  def markerPath(wal: Path, id: Long): Path    = wal.resolve(f"$id%020d$PublishedSuffix")
  def stagingDir(metric: Path, id: Long): Path = metric.resolve(".staging").resolve(id.toString)

  private def idsWith(wal: Path, suffix: String): Seq[Long] =
    if (!Files.isDirectory(wal)) Seq.empty
    else {
      val s = Files.list(wal)
      try s.iterator.asScala.map(_.getFileName.toString).filter(_.endsWith(suffix))
        .map(_.stripSuffix(suffix).toLong).toSeq.sorted
      finally s.close()
    }

  def segmentIds(wal: Path): Seq[Long] = idsWith(wal, SegmentSuffix)
  def markerIds(wal: Path): Seq[Long]  = idsWith(wal, PublishedSuffix)

  /** Above every segment and marker id on disk (all processes' — the
    * caller holds the metric's file lock). */
  def nextId(wal: Path): Long = (segmentIds(wal) ++ markerIds(wal) :+ 0L).max + 1

  def create(wal: Path, id: Long): Segment = {
    Files.createDirectories(wal)
    val p  = segmentPath(wal, id)
    val ch = FileChannel.open(p, StandardOpenOption.CREATE_NEW, StandardOpenOption.WRITE)
    ch.lock()
    new Segment(id, p, ch)
  }

  /** Take over segment `id` if no live process holds it: its records and
    * the segment, or None when its lock is held elsewhere. */
  def adopt(wal: Path, id: Long): Option[(Segment, Seq[Map[String, Any]])] = {
    val p  = segmentPath(wal, id)
    val ch = FileChannel.open(p, StandardOpenOption.READ, StandardOpenOption.WRITE)
    val lock =
      try ch.tryLock()
      catch { case _: OverlappingFileLockException => null }
    if (lock == null) { ch.close(); None }
    else Some((new Segment(id, p, ch), read(Files.readAllBytes(p))))
  }

  def frame(values: Map[String, Any]): Array[Byte] = {
    val bytes = new ByteArrayOutputStream()
    val out   = new DataOutputStream(bytes)
    def str(s: String): Unit = { val b = s.getBytes(StandardCharsets.UTF_8); out.writeInt(b.length); out.write(b) }
    out.writeInt(values.size)
    values.foreach { case (k, v) =>
      str(k)
      v match {
        case l: Long   => out.writeByte('L'); out.writeLong(l)
        case i: Int    => out.writeByte('I'); out.writeInt(i)
        case d: Double => out.writeByte('D'); out.writeDouble(d)
        case s: String => out.writeByte('S'); str(s)
        case other     => throw new IllegalArgumentException(s"unloggable value type ${other.getClass}")
      }
    }
    val payload = bytes.toByteArray
    val crc     = new CRC32(); crc.update(payload)
    ByteBuffer.allocate(8 + payload.length).putInt(payload.length).putInt(crc.getValue.toInt).put(payload).array()
  }

  /** The records of a segment's bytes, up to the first torn or corrupt frame. */
  def read(bytes: Array[Byte]): Seq[Map[String, Any]] = {
    val buf  = ByteBuffer.wrap(bytes)
    val recs = Seq.newBuilder[Map[String, Any]]
    var ok   = true
    while (ok && buf.remaining >= 8) {
      val len = buf.getInt(); val crc = buf.getInt()
      if (len < 0 || len > buf.remaining) ok = false
      else {
        val payload = new Array[Byte](len); buf.get(payload)
        val c = new CRC32(); c.update(payload)
        if (c.getValue.toInt != crc) ok = false
        else recs += decode(payload)
      }
    }
    recs.result()
  }

  private def decode(payload: Array[Byte]): Map[String, Any] = {
    val in = new DataInputStream(new java.io.ByteArrayInputStream(payload))
    def str(): String = { val b = new Array[Byte](in.readInt()); in.readFully(b); new String(b, StandardCharsets.UTF_8) }
    (0 until in.readInt()).map { _ =>
      val k = str()
      k -> (in.readByte() match {
        case 'L' => in.readLong()
        case 'I' => in.readInt()
        case 'D' => in.readDouble()
        case 'S' => str()
        case t   => throw new IllegalStateException(s"unknown type tag $t in a checksummed frame")
      })
    }.toMap
  }
}
