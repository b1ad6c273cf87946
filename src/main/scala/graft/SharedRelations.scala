package graft

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/**
 * Session-shared relations: values built once per `(session, dir)` and
 * served to every gate that reads them, in place of a per-gate rebuild.
 *
 * An [[Entry]] declares a name, a builder `(s, d) => V`, how to release a
 * built value, and optionally the one gate that rebuilds it on entry (its
 * timed bench row then measures the real build). Builders call other
 * entries' getters, so those calls are the only record of dependencies;
 * declaration order is the prebuild order and must list a dependency
 * before its consumers.
 *
 * Each key holds a cell whose lazy value is built OUTSIDE the map
 * operation, so a builder may call other getters (a `computeIfAbsent`
 * around the build would be a recursive update). Concurrent getters of
 * one key share one build; a failed build removes its cell, so the next
 * getter retries. Evicting an entry releases only that entry: values
 * already built from it stay cached.
 */
final class SharedRelations {
  import SharedRelations._

  final class Entry[V] private[SharedRelations] (
      val name: String,
      val gate: Option[String],
      private[SharedRelations] val build: (SparkSession, String) => V,
      private[SharedRelations] val release: V => Unit) {
    def apply(s: SparkSession, d: String): V = get(this, s, d)
    /** drop and release this entry's `(s, d)` value; the next get rebuilds it. */
    def evict(s: SparkSession, d: String): Unit = drop((s, d, name))
  }

  private final class Cell(entry: Entry[_], s: SparkSession, d: String) {
    @volatile var seconds: Double = Double.NaN
    lazy val value: Any = {
      val t0 = System.nanoTime()
      val v  = entry.build(s, d)
      seconds = (System.nanoTime() - t0) / 1e9
      v
    }
    def release(): Unit =
      if (!seconds.isNaN)
        try entry.release.asInstanceOf[Any => Unit](value) catch { case NonFatal(_) => () }
  }

  private val declared = ArrayBuffer.empty[Entry[_]]
  private val cells    = new ConcurrentHashMap[(SparkSession, String, String), Cell]()

  /** Declare an entry; `release` defaults to nothing (driver-side values). */
  def entry[V](name: String, gate: Option[String] = None, release: V => Unit = (_: V) => ())(
      build: (SparkSession, String) => V): Entry[V] = {
    require(!declared.exists(_.name == name), s"shared relation $name declared twice")
    val e = new Entry(name, gate, build, release)
    declared += e
    e
  }

  /** Declare a DataFrame entry, released with `unpersist(false)`. */
  def frame(name: String, gate: Option[String] = None)(
      build: (SparkSession, String) => DataFrame): Entry[DataFrame] =
    entry[DataFrame](name, gate, _.unpersist(false))(build)

  def entries: Seq[Entry[_]] = declared.toSeq

  private def get[V](e: Entry[V], s: SparkSession, d: String): V = {
    // spec suites churn sessions: drop entries whose context has stopped
    cells.keySet.removeIf(_._1.sparkContext.isStopped)
    val key  = (s, d, e.name)
    val cell = cells.computeIfAbsent(key, _ => new Cell(e, s, d))
    try cell.value.asInstanceOf[V]
    catch { case t: Throwable => cells.remove(key, cell); throw t }
  }

  private def drop(key: (SparkSession, String, String)): Unit =
    Option(cells.remove(key)).foreach(_.release())

  /** Build every entry for `(s, d)` in declaration order, reporting each
    * entry's build seconds, or its failure. */
  def prebuild(s: SparkSession, d: String): Prebuild = {
    val outcomes = entries.map { e =>
      try { e(s, d); Right(e.name -> cells.get((s, d, e.name)).seconds) }
      catch { case NonFatal(t) => Left(e.name -> Option(t.getMessage).getOrElse(t.toString)) }
    }
    Prebuild(outcomes.collect { case Right(b) => b }, outcomes.collect { case Left(f) => f })
  }

  private def byGate: Map[String, Seq[Entry[_]]] =
    entries.filter(_.gate.isDefined).groupBy(_.gate.get)

  /** gate → the `+`-joined names of the entries it rebuilds, in declaration order. */
  def builderGates: Map[String, String] =
    byGate.map { case (g, es) => g -> es.map(_.name).mkString("+") }

  /** `gates` with each builder gate evicting its entries first, so its
    * run rebuilds them. */
  def evictingOnEntry[A](gates: Map[String, (SparkSession, String) => A])
      : Map[String, (SparkSession, String) => A] = {
    val evicts = byGate
    gates.map { case (g, fn) =>
      g -> evicts.get(g).fold(fn)(es => (s: SparkSession, d: String) => {
        es.foreach(_.evict(s, d)); fn(s, d)
      })
    }
  }

  /** Drop and release every value built for `(s, d)`. */
  def release(s: SparkSession, d: String): Unit =
    cells.keySet.asScala.filter(k => k._1 == s && k._2 == d).foreach(drop)
}

object SharedRelations {
  /** per-entry build seconds, and the message of each entry that failed */
  final case class Prebuild(built: Seq[(String, Double)], failed: Seq[(String, String)])

  /** The persist-once discipline: persist (NOT localCheckpoint, so lineage
    * survives and a consumer's `Checkpoints.free` cannot collapse it) and
    * count, so every consumer scans the cache. */
  def materialize(df: DataFrame): DataFrame = {
    val p = df.persist(StorageLevel.MEMORY_AND_DISK)
    p.count()
    p
  }
}
