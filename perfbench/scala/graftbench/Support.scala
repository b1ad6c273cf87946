package graftbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

/** One timed call: `parent` is the enclosing span on the same thread (0 = root). */
final case class Span(id: Long, parent: Long, name: String, startNs: Long, endNs: Long)

/**
 * In-memory span recorder. Spans nest per thread; nothing is written until
 * [[dump]] at the end of the run. A span's self time is its duration minus
 * the part of it its children cover (children on one thread never overlap,
 * so that part is the sum of their durations).
 */
final class Spans {
  private val ids     = new AtomicLong
  private val done    = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  private val current = ThreadLocal.withInitial[java.lang.Long](() => 0L)

  def apply[A](name: String)(body: => A): A = {
    val id     = ids.incrementAndGet()
    val parent = current.get()
    current.set(id)
    val t0 = System.nanoTime()
    try body
    finally {
      done.add(Span(id, parent, name, t0, System.nanoTime()))
      current.set(parent)
    }
  }

  def all: Seq[Span] = done.asScala.toSeq

  /** self time in ms of every finished span, grouped by span name. */
  def selfMs: Map[String, Seq[Double]] = {
    val spans    = all
    val childSum = spans.groupBy(_.parent).map { case (p, cs) => p -> cs.map(c => c.endNs - c.startNs).sum }
    spans.groupBy(_.name).map { case (n, ss) =>
      n -> ss.map(s => (s.endNs - s.startNs - childSum.getOrElse(s.id, 0L)) / 1e6)
    }
  }

  /** one JSON object per line: id, parent, name, start/end ns. */
  def dump(path: java.nio.file.Path): Unit = {
    val w = java.nio.file.Files.newBufferedWriter(path)
    try all.sortBy(_.startNs).foreach { s =>
      w.write(s"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}","start_ns":${s.startNs},"end_ns":${s.endNs}}""")
      w.newLine()
    } finally w.close()
  }
}

/** Per-job-group Spark work: jobs, tasks, input records, shuffle and spill bytes. */
final class Tally {
  val jobs, tasks, recordsRead, shuffleBytes, spillBytes = new LongAdder
}

/**
 * Listener keyed by the job group the caller set with
 * `SparkContext.setJobGroup`; jobs outside any group land under "".
 * Listener events arrive asynchronously, so read [[settled]] after the
 * work has finished.
 */
final class JobTally extends SparkListener {
  private val byGroup    = new ConcurrentHashMap[String, Tally]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val events     = new LongAdder

  def tally(group: String): Tally = byGroup.computeIfAbsent(group, _ => new Tally)

  def groups: Map[String, Tally] = byGroup.asScala.toMap

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    e.stageIds.foreach(s => stageGroup.put(s, g))
    tally(g).jobs.increment()
    events.increment()
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val t = tally(stageGroup.getOrDefault(e.stageId, ""))
    t.tasks.increment()
    Option(e.taskMetrics).foreach { m =>
      t.recordsRead.add(m.inputMetrics.recordsRead)
      t.shuffleBytes.add(m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten)
      t.spillBytes.add(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
    events.increment()
  }

  /** wait until no listener event has arrived for `quietMs` (bounded). */
  def settled(quietMs: Long = 300L, maxMs: Long = 10000L): this.type = {
    val deadline = System.currentTimeMillis() + maxMs
    var last     = -1L
    while (events.sum() != last && System.currentTimeMillis() < deadline) {
      last = events.sum()
      Thread.sleep(quietMs)
    }
    this
  }
}

/** Process-wide JVM counters. */
object Jvm {
  def gcMs: Long  = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum
  def jitMs: Long = Option(ManagementFactory.getCompilationMXBean).map(_.getTotalCompilationTime).getOrElse(0L)
  /** ms since this JVM was launched. */
  def uptimeMs: Long = ManagementFactory.getRuntimeMXBean.getUptime
  /** peak resident set of this process (VmHWM), in MB. */
  def peakRssMb: Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .collectFirst { case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0 }
      .getOrElse(0.0)
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** linear-interpolated quantile; 0 for an empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s   = xs.sorted
      val pos = q * (s.size - 1)
      val lo  = pos.toInt
      val hi  = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  /** a flat JSON object of numbers. */
  def json(m: Seq[(String, Double)]): String =
    m.map { case (k, v) => s""""$k":${if (v.isNaN || v.isInfinite) "0" else v.toString}""" }.mkString("{", ",", "}")
}

/** `--key value` command-line pairs. */
final case class Args(m: Map[String, String]) {
  def apply(k: String): String = m.getOrElse(k, sys.error(s"missing --$k"))
}

object Args {
  def apply(args: Array[String]): Args =
    Args(args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap)
}

object Json {
  /** JSON string literal. */
  def str(s: String): String = "\"" + s.flatMap {
    case '"'          => "\\\""
    case '\\'         => "\\\\"
    case '\n'         => "\\n"
    case '\r'         => "\\r"
    case '\t'         => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c            => c.toString
  } + "\""
}
