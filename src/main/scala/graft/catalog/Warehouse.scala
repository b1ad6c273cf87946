package graft.catalog

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.exec.{Executor, MetricRef, RollupRef, ShardInfo}
import graft.model.{FieldClass, MetricField, MetricSchema}
import graft.plan.{TimeBuckets, TimeContext}
import graft.sql.Ast

/** Coordinates of a metric inside the warehouse. */
final case class Coords(db: String, namespace: String, metric: String) {
  def path(root: String): String = s"$root/$db/$namespace/$metric"
}

/**
 * Parquet warehouse with natural time sharding.
 *
 * Layout: `<root>/<db>/<namespace>/<metric>/data/shard=<bucket>/…parquet`
 * plus a `meta.json` sidecar holding the metric schema (with field
 * classes), shard interval and retention — the Spark-native analogue of
 * the reference's Location/MetricInfo metadata
 * (`nsdb-core/.../model/Location.scala`, `MetricInfo.scala`).
 *
 * `shard = floor(timestamp / shardInterval)` is a Hive partition column, so
 * time-range queries prune directories exactly like the reference's
 * location filtering — the executor derives shard bounds from the
 * statement's time spans (see [[graft.exec.Executor.filtered]]).
 *
 * Writes are serialized per metric at TWO levels, mirroring the reference's
 * single SchemaCoordinator (`nsdb-cluster/.../SchemaCoordinator.scala`):
 * a JVM-wide monitor (shared across Warehouse instances on the same path,
 * so two engines in one process cannot interleave) plus an OS advisory
 * file lock on `<metric>/.lock`, so two DRIVER PROCESSES appending the
 * same metric serialize their schema-union validation and shard writes
 * cleanly. The file lock blocks until the peer releases; in-JVM overlap
 * (which would throw `OverlappingFileLockException`) is prevented by the
 * shared monitor taken first.
 *
 * Single-record [[insert]]s take the reference's accumulate-then-flush
 * path (`WriteCoordinator.accumulateOperation`, `MetricAccumulatorActor`):
 * each record is appended to a log segment under `<metric>/wal/` and
 * forced to disk before it is acknowledged, then held in a JVM-wide
 * [[MetricLog]] buffer. A daemon flusher writes the buffer as one parquet
 * batch when it holds [[WriteLog.FlushRecords]] records or its oldest
 * record is [[WriteLog.FlushAgeNanos]] old. [[read]] serves the flushed
 * files plus a snapshot of the buffer, so a JVM reads its own writes;
 * another process sees them once flushed. Crash recovery and segment
 * ownership are described at [[recoverLocked]]. Bulk [[append]] writes
 * parquet directly.
 */
class Warehouse(val spark: SparkSession, val root: String) {

  private def metricKey(c: Coords): String = Paths.get(c.path(root)).toAbsolutePath.normalize.toString

  /** monitor + advisory file lock around every mutating metric op. */
  private def withWriteLock[A](c: Coords)(body: => A): A =
    Warehouse.monitorFor(metricKey(c)).synchronized {
      Files.createDirectories(Paths.get(c.path(root)))
      val ch = java.nio.channels.FileChannel.open(
        Paths.get(c.path(root), ".lock"),
        java.nio.file.StandardOpenOption.CREATE, java.nio.file.StandardOpenOption.WRITE)
      try { val fl = ch.lock(); try body finally fl.release() } finally ch.close()
    }

  private def dataPath(c: Coords) = s"${c.path(root)}/data"
  private def metaPath(c: Coords) = s"${c.path(root)}/meta.json"
  private def rollupDir(c: Coords) = s"${c.path(root)}/rollup"
  private def rollupCfgPath(c: Coords) = s"${c.path(root)}/rollup.json"

  // ---- metadata ----------------------------------------------------------

  final case class Meta(schema: MetricSchema, shardIntervalMs: Long, retentionMs: Long)

  private def writeMeta(c: Coords, m: Meta): Unit = {
    val fields = m.schema.orderedNames.map { n =>
      val f = m.schema.fields(n)
      s"""{"name":"${f.name}","type":"${f.dataType.catalogString}","class":"${f.fieldClass.name}"}"""
    }.mkString("[", ",", "]")
    val json = s"""{"shardIntervalMs":${m.shardIntervalMs},"retentionMs":${m.retentionMs},"fields":$fields}"""
    Files.createDirectories(Paths.get(c.path(root)))
    replaceFile(metaPath(c), json)
  }

  /** Write `path` through a sibling temp file and an atomic rename: the
    * lock-free readers ([[read]] → readMeta) see the old or the new file,
    * never a truncated one. */
  private def replaceFile(path: String, content: String): Unit = {
    val target = Paths.get(path)
    // not createTempFile: its owner-only permissions would stick to the target
    val tmp = target.resolveSibling(s".${target.getFileName}.${java.util.UUID.randomUUID}.tmp")
    try {
      Files.write(tmp, content.getBytes(StandardCharsets.UTF_8))
      Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE)
    } finally Files.deleteIfExists(tmp)
  }

  /** shard interval + retention for a registered metric — the
    * DescribeMetricResponse.MetricInfo surface (reference
    * `responseCommand.proto:46-49`). */
  def metricInfo(c: Coords): Option[(Long, Long)] =
    readMeta(c).map(m => (m.shardIntervalMs, m.retentionMs))

  private def readMeta(c: Coords): Option[Meta] =
    Try {
      val json = new String(Files.readAllBytes(Paths.get(metaPath(c))), StandardCharsets.UTF_8)
      // minimal hand parser for the fixed shape written above
      val shardMs = """"shardIntervalMs":(\d+)""".r.findFirstMatchIn(json).get.group(1).toLong
      val retMs   = """"retentionMs":(\d+)""".r.findFirstMatchIn(json).get.group(1).toLong
      val fieldRe = """\{"name":"([^"]+)","type":"([^"]+)","class":"([^"]+)"\}""".r
      val fields = fieldRe.findAllMatchIn(json).map { m =>
        val dt = CatalystSqlParser.parseDataType(m.group(2))
        m.group(1) -> MetricField(m.group(1), dt, FieldClass.fromName(m.group(3)))
      }.toMap
      Meta(MetricSchema(fields), shardMs, retMs)
    }.toOption

  private object CatalystSqlParser {
    def parseDataType(s: String): DataType = s match {
      case "bigint"  => LongType
      case "int"     => IntegerType
      case "double"  => DoubleType
      case "float"   => FloatType
      case "string"  => StringType
      case "boolean" => BooleanType
      case other     => org.apache.spark.sql.types.DataType.fromDDL(other)
    }
  }

  // ---- catalog listing ---------------------------------------------------

  private def subdirs(p: String): Seq[String] = {
    val dir = Paths.get(p)
    if (!Files.isDirectory(dir)) Seq.empty
    else Files.list(dir).iterator.asScala.filter(Files.isDirectory(_)).map(_.getFileName.toString)
      // dot-dirs are warehouse-internal (restore staging), never catalog
      .filterNot(_.startsWith(".")).toSeq.sorted
  }

  def listDatabases: Seq[String]                = subdirs(root)
  def listNamespaces(db: String): Seq[String]   = subdirs(s"$root/$db")
  def listMetrics(db: String, ns: String): Seq[String] =
    subdirs(s"$root/$db/$ns").filter(m => Files.exists(Paths.get(metaPath(Coords(db, ns, m)))))

  def describe(c: Coords): Option[Seq[(String, String, String)]] =
    readMeta(c).map(m => m.schema.orderedNames.map { n =>
      val f = m.schema.fields(n)
      (f.name, f.dataType.catalogString, f.fieldClass.name)
    })

  def exists(c: Coords): Boolean = readMeta(c).isDefined

  // ---- write path --------------------------------------------------------

  val DefaultShardIntervalMs: Long = 86400000L // 1 day

  /**
   * Restore metric trees from a backup of a warehouse root — the
   * reference's Restore surface (`nsdb-rpc/.../restore.proto:32`). The
   * warehouse directory layout IS the backup format (shard parquet +
   * meta.json per metric), so restore is validation + copy: every
   * `db/ns/metric` under `backupRoot` that carries a `meta.json` is
   * copied in under this root. Clash-validated up front: if ANY target
   * metric already exists here, nothing is restored and the clashes are
   * reported — a backup never silently overwrites or merges into live
   * data.
   *
   * ATOMICITY is per metric: each tree stages into a hidden
   * `.restore-tmp` dir under this root (invisible to the catalog — dot
   * dirs never list) and then RENAMES into place, one atomic move per
   * metric, so a metric is either fully present or fully absent — a
   * mid-copy crash leaves no partial metric a query could see. A
   * failure between metrics leaves the earlier ones restored and
   * complete; the error says exactly which, so the caller can resume
   * with the remainder or drop what landed. Returns the restored coords.
   */
  def restore(backupRoot: String): Either[String, Seq[Coords]] = {
    def dirsOf(p: String): Seq[String] = subdirs(p)
    val coords = for {
      db <- dirsOf(backupRoot)
      ns <- dirsOf(s"$backupRoot/$db")
      m  <- dirsOf(s"$backupRoot/$db/$ns")
      if Files.exists(Paths.get(s"$backupRoot/$db/$ns/$m/meta.json"))
    } yield Coords(db, ns, m)
    if (coords.isEmpty) Left(s"no metrics found under backup root $backupRoot")
    else {
      val clashes = coords.filter(exists)
      if (clashes.nonEmpty)
        Left(s"restore refused — metrics already exist: ${clashes.map(_.metric).sorted.mkString(",")}")
      else {
        val tmpBase = Paths.get(root, ".restore-tmp", java.util.UUID.randomUUID().toString)
        val done    = scala.collection.mutable.ArrayBuffer.empty[Coords]
        try {
          coords.foreach { c =>
            val src = Paths.get(s"$backupRoot/${c.db}/${c.namespace}/${c.metric}")
            val tmp = tmpBase.resolve(s"${c.db}__${c.namespace}__${c.metric}")
            val walk = Files.walk(src)
            try
              walk.iterator.asScala
                // the backup may carry a stale advisory .lock — never
                // resurrect it in the restored tree
                .filterNot(_.getFileName.toString == ".lock")
                .foreach { p =>
                  val target = tmp.resolve(src.relativize(p).toString)
                  if (Files.isDirectory(p)) Files.createDirectories(target)
                  else {
                    Files.createDirectories(target.getParent)
                    Files.copy(p, target)
                  }
                }
            finally walk.close() // the walk holds open directory handles
            val dst = Paths.get(c.path(root))
            Files.createDirectories(dst.getParent)
            // serialize vs in-process writers WITHOUT withWriteLock — that
            // would create dst/.lock and defeat the atomic rename; the
            // rename itself refuses an existing dst, so a metric that
            // appeared since the clash check fails loud, never overwrites
            Warehouse.monitorFor(dst.toAbsolutePath.normalize.toString).synchronized {
              try Files.move(tmp, dst, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
              catch {
                case _: java.nio.file.FileAlreadyExistsException |
                    _: java.nio.file.DirectoryNotEmptyException =>
                  throw new IllegalStateException(
                    s"metric ${c.metric} appeared during restore — refusing to overwrite")
              }
            }
            done += c
          }
          Right(coords)
        } catch {
          case e: Throwable =>
            val landed = if (done.isEmpty) "none"
              else done.map(c => s"${c.db}/${c.namespace}/${c.metric}").mkString(",")
            Left(s"restore failed after ${done.size}/${coords.size} metrics " +
              s"(fully restored: $landed; per-metric renames are atomic, nothing partial is " +
              s"visible): ${e.getMessage}")
        } finally {
          // staged leftovers from a failure are catalog-invisible; still,
          // sweep them so the root carries no dead bytes
          deleteTree(tmpBase)
          try Files.deleteIfExists(Paths.get(root, ".restore-tmp")) // if now empty
          catch { case _: java.nio.file.DirectoryNotEmptyException => () } // a peer restore's staging
          ()
        }
      }
    }
  }

  /**
   * Create a metric's metadata AHEAD of any data — the reference's
   * InitMetric surface (`nsdb-rpc/.../init.proto:40`, java-api
   * `NSDB.initMetric`): shard interval and retention are fixed at birth
   * and the first [[append]] unions its derived schema into the empty
   * one (per-write interval arguments are ignored once meta exists, as
   * always). Idempotent when re-initialized with identical settings;
   * conflicting settings reject — an existing metric's sharding cannot
   * be rewritten under its data.
   */
  def initMetric(
      c: Coords,
      shardIntervalMs: Long = DefaultShardIntervalMs,
      retentionMs: Long = 0L
  ): Either[String, Unit] = {
    // validated BEFORE the lock: Left, not throw (the client facades
    // carry failures in result objects), and no empty metric dir + .lock
    // left behind by an invalid call
    if (shardIntervalMs <= 0)
      return Left(s"shardIntervalMs must be positive, got $shardIntervalMs")
    withWriteLock(c) {
      readMeta(c) match {
        case Some(m) if m.shardIntervalMs == shardIntervalMs && m.retentionMs == retentionMs =>
          Right(())
        case Some(m) =>
          Left(s"metric ${c.metric} already exists with shardIntervalMs=${m.shardIntervalMs}, " +
            s"retentionMs=${m.retentionMs}")
        case None =>
          writeMeta(c, Meta(MetricSchema(Map.empty), shardIntervalMs, retentionMs))
          Right(())
      }
    }
  }

  /**
   * Append a batch of records (canonical columns: timestamp, value, dims/
   * tags). Validates schema union against the stored schema — a field
   * present in both must keep its exact type or the write is rejected
   * (reference: `Schema.union`, `Schema.scala:116-129`).
   */
  def append(
      c: Coords,
      df: DataFrame,
      tags: Set[String],
      shardIntervalMs: Long = DefaultShardIntervalMs,
      retentionMs: Long = 0L
  ): Either[String, Long] = withWriteLock(c) {
    unionMeta(c, MetricSchema.fromMapping(df.schema, tags), shardIntervalMs, retentionMs).map { m =>
      // the ingested-row count rides the write job as an observed metric —
      // a post-write df.count() would re-run the whole batch plan per ingest
      val obs = org.apache.spark.sql.Observation()
      val sharded = df.observe(obs, count(lit(1)).as("rows"))
        .withColumn("shard", floor(col("timestamp") / lit(m.shardIntervalMs)).cast(LongType))
      // cluster rows by shard before writing: one file per shard per batch
      // instead of one per (task × shard) — the small-files guard that
      // matters most at ingest scale (raise parallelism per shard by
      // salting the repartition key if single shards outgrow a task)
      sharded
        .repartition(col("shard"))
        .write.partitionBy("shard").mode("append").parquet(dataPath(c))
      // write-time rollup maintenance: this batch's stats segment appends
      // to the log (reference: facet update per accumulated batch)
      rollupStep(c).foreach(step => appendRollupSegment(c, df, step))
      // an all-empty batch can run zero tasks → no metric row at all
      obs.get.getOrElse("rows", 0L).asInstanceOf[Long]
    }
  }

  /** `incoming` unioned into the stored metadata (a new metric starts from
    * `incoming` with the given sharding and retention); meta.json is
    * rewritten only when the union changed it. Caller holds the write lock. */
  private def unionMeta(c: Coords, incoming: MetricSchema, shardIntervalMs: Long,
                        retentionMs: Long): Either[String, Meta] = {
    val stored = readMeta(c)
    stored.fold[Either[String, Meta]](Right(Meta(incoming, shardIntervalMs, retentionMs))) { e =>
      e.schema.union(incoming).map(u => e.copy(schema = u))
    }.map { m =>
      if (!stored.contains(m)) writeMeta(c, m)
      m
    }
  }

  /**
   * Single-record INSERT statement (timestamp defaults to the context now).
   * Acknowledged once the record is forced to the metric's log; it is
   * readable in this JVM at once and lands in parquet with the next flush.
   */
  def insert(stmt: Ast.InsertStatement)(implicit tc: TimeContext): Either[String, Long] = {
    val c = Coords(stmt.db, stmt.namespace, stmt.metric)
    val values: Map[String, Any] =
      (stmt.dimensions ++ stmt.tags ++ Map("value" -> stmt.value)).map { case (k, v) => k -> loggable(v) } +
        ("timestamp" -> stmt.timestamp.getOrElse(tc.currentTime))
    val schema = StructType(values.toSeq.sortBy(_._1).map { case (n, v) => StructField(n, typeOf(v)) })
    val log    = logFor(c)
    val res = withWriteLock(c) {
      unionMeta(c, MetricSchema.fromMapping(schema, stmt.tags.keySet), DefaultShardIntervalMs, 0L).map { _ =>
        log.append(values)
        1L
      }
    }
    Warehouse.Flusher.started()
    if (log.records.size >= WriteLog.FlushRecords) Warehouse.Flusher.wake()
    res
  }

  /** the value as the log stores it: long, int, double or string */
  private def loggable(v: Any): Any = v match {
    case _: Long | _: Int | _: Double | _: String => v
    case other                                    => String.valueOf(other)
  }

  private def typeOf(v: Any): DataType = v match {
    case _: Long   => LongType
    case _: Int    => IntegerType
    case _: Double => DoubleType
    case _         => StringType
  }

  // ---- write buffer ------------------------------------------------------

  /** The metric's write buffer. On its first use in this JVM it recovers
    * the log segments no live process owns ([[recoverLocked]]); a buffer
    * whose log directory vanished (the metric was dropped by another
    * process or its directory removed) is discarded first. */
  private[catalog] def logFor(c: Coords): MetricLog = {
    val key = metricKey(c)
    val log = Warehouse.logs.computeIfAbsent(key, k => new MetricLog(Paths.get(k)))
    log.owner = Some((this, c))
    Warehouse.discardIfStale(key, log)
    if (!log.recovered) {
      if (Files.isDirectory(log.walDir)) withWriteLock(c) { if (!log.recovered) recoverLocked(c, log) }
      log.recovered = true
    }
    log
  }

  /**
   * Exactly-once recovery of a metric's log, under its write lock:
   *  - a flush marked published (`wal/<id>.published`) gets its remaining
   *    renames finished and its segments retired;
   *  - every other segment that no live process holds locked is adopted:
   *    its flush staging is deleted and its records are replayed into the
   *    buffer, to be flushed again. A segment locked by a live process is
   *    left to its owner, so two JVMs never replay the same records.
   */
  private def recoverLocked(c: Coords, log: MetricLog): Unit = {
    val wal = log.walDir
    WriteLog.markerIds(wal).foreach(id => finishPublished(c, log, id))
    val adopted = WriteLog.segmentIds(wal).flatMap(id => WriteLog.adopt(wal, id))
    adopted.foreach { case (seg, _) => deleteTree(WriteLog.stagingDir(log.dir, seg.id)) }
    val (empty, full) = adopted.partition(_._2.isEmpty)
    empty.foreach { case (seg, _) => Files.deleteIfExists(seg.path); seg.release() }
    val now = System.nanoTime()
    log.pending = log.pending ++ full.map(_._1)
    log.records = log.records ++ full.flatMap(_._2).map(Buffered(_, now))
  }

  /** A frozen buffer prefix on its way to parquet: `id` names its staging
    * directory and marker, `segments` are the log segments it retires. */
  private[catalog] final class Flush(val id: Long, val segments: Seq[Long], val rows: Vector[Buffered], val meta: Meta)

  /** Write the metric's buffered records to parquet now; the flusher does
    * this by size and age. Waits for a flush already in flight. */
  private[catalog] def flush(c: Coords): Unit = flushBuffered(c, logFor(c))

  /** Freeze under the write lock, write parquet outside it (inserts go on),
    * publish under it again. */
  private[catalog] def flushBuffered(c: Coords, log: MetricLog): Unit = log.flushing.synchronized {
    withWriteLock(c)(freeze(c, log)).foreach { f =>
      stage(c, f) // a failed stage is cleared by the retry's stage or by recovery
      withWriteLock(c)(publish(c, log, f))
    }
  }

  /** Run a mutation under the write lock once every buffered record of the
    * metric is in parquet: an in-flight flush finishes first, the rest is
    * flushed under the lock. */
  private def flushedThen[A](c: Coords)(body: => A): A = {
    val log = logFor(c)
    log.flushing.synchronized {
      withWriteLock(c) {
        freeze(c, log).foreach { f => stage(c, f); publish(c, log, f) }
        body
      }
    }
  }

  /** Seal the open segment and take the whole buffer as the flush prefix.
    * Caller holds the write lock. */
  private[catalog] def freeze(c: Coords, log: MetricLog): Option[Flush] =
    if (log.records.isEmpty) None
    else readMeta(c).map { m =>
      log.sealCurrent()
      new Flush(log.pending.last.id, log.pending.map(_.id), log.records, m)
    }

  /** One parquet batch of `rows` in the canonical columns plus `shard`. */
  private def bufferedFrame(m: Meta, rows: Seq[Buffered]): DataFrame = {
    val struct = m.schema.toStruct
    spark.createDataFrame(rows.map { b =>
      Row.fromSeq(struct.fieldNames.toSeq.map(b.values.getOrElse(_, null)) :+
        Math.floorDiv(b.values("timestamp").asInstanceOf[Long], m.shardIntervalMs))
    }.asJava, struct.add("shard", LongType))
  }

  /** Write the prefix as parquet (one file per shard) and its rollup
    * segment under the staging directory, outside `data/`. No lock held. */
  private[catalog] def stage(c: Coords, f: Flush): Unit = {
    val dir = WriteLog.stagingDir(Paths.get(c.path(root)), f.id)
    deleteTree(dir)
    val df = bufferedFrame(f.meta, f.rows)
    df.coalesce(1).write.partitionBy("shard").parquet(dir.resolve("data").toString)
    rollupCfg(c).foreach { case (step, keys) =>
      graft.operators.Rollup.buildForServing(df, keys, "timestamp", "value", step)
        .write.parquet(dir.resolve("rollup").toString)
    }
  }

  /** Commit a staged flush: mark it published (the commit point), rename
    * its files into place and drop the prefix from the buffer under the
    * visibility lock, then retire its segments. If anything after the mark
    * fails, the in-memory buffer is dropped and rebuilt from disk by
    * recovery on next use. Caller holds the write lock. */
  private[catalog] def publish(c: Coords, log: MetricLog, f: Flush): Unit = {
    markPublished(log, f)
    try {
      log.withVisibility(write = true) {
        moveStaged(c, f.id)
        log.records = log.records.drop(f.rows.size)
      }
      retire(log, f.id, f.segments)
      log.retryAtNanos = 0L
    } catch {
      case e: Throwable => log.discard(); log.recovered = false; throw e
    }
  }

  private[catalog] def markPublished(log: MetricLog, f: Flush): Unit = {
    val marker = WriteLog.markerPath(log.walDir, f.id)
    val tmp    = marker.resolveSibling(s".${marker.getFileName}.tmp")
    val ch = java.nio.channels.FileChannel.open(tmp, java.nio.file.StandardOpenOption.CREATE,
      java.nio.file.StandardOpenOption.WRITE, java.nio.file.StandardOpenOption.TRUNCATE_EXISTING)
    try {
      ch.write(java.nio.ByteBuffer.wrap(f.segments.mkString(",").getBytes(StandardCharsets.UTF_8)))
      ch.force(true)
    } finally ch.close()
    Files.move(tmp, marker, StandardCopyOption.ATOMIC_MOVE)
  }

  /** Finish a published flush found on disk: the renames it has left, then
    * its segments. */
  private def finishPublished(c: Coords, log: MetricLog, id: Long): Unit = {
    val covered = new String(Files.readAllBytes(WriteLog.markerPath(log.walDir, id)), StandardCharsets.UTF_8)
      .split(",").filter(_.nonEmpty).map(_.toLong).toSeq
    log.withVisibility(write = true)(moveStaged(c, id))
    retire(log, id, covered)
  }

  /** Rename a flush's staged files into `data/shard=…/` and `rollup/`.
    * Idempotent: a file already moved is no longer staged. */
  private[catalog] def moveStaged(c: Coords, id: Long): Unit = {
    val staged = WriteLog.stagingDir(Paths.get(c.path(root)), id)
    def moveFiles(from: java.nio.file.Path, to: java.nio.file.Path): Unit =
      if (Files.isDirectory(from)) {
        val files = listDir(from).filter(p => Files.isRegularFile(p) && !p.getFileName.toString.contains("_SUCCESS"))
        if (files.nonEmpty) Files.createDirectories(to)
        files.foreach(p => Files.move(p, to.resolve(p.getFileName), StandardCopyOption.ATOMIC_MOVE))
      }
    listDir(staged.resolve("data")).filter(Files.isDirectory(_))
      .foreach(sh => moveFiles(sh, Paths.get(dataPath(c)).resolve(sh.getFileName)))
    moveFiles(staged.resolve("rollup"), Paths.get(rollupDir(c)))
  }

  /** Delete a published flush's segments, staging and marker, in that
    * order: the marker goes last, so a crash in between is finished again. */
  private[catalog] def retire(log: MetricLog, id: Long, covered: Seq[Long]): Unit = {
    val (mine, rest) = log.pending.partition(s => covered.contains(s.id))
    log.pending = rest
    covered.foreach(s => Files.deleteIfExists(WriteLog.segmentPath(log.walDir, s)))
    mine.foreach(_.release())
    deleteTree(WriteLog.stagingDir(log.dir, id))
    Files.deleteIfExists(WriteLog.markerPath(log.walDir, id))
    ()
  }

  private def listDir(dir: java.nio.file.Path): Seq[java.nio.file.Path] =
    if (!Files.isDirectory(dir)) Seq.empty
    else { val s = Files.list(dir); try s.iterator.asScala.toSeq finally s.close() }

  private def deleteTree(dir: java.nio.file.Path): Unit =
    if (Files.exists(dir)) {
      val w = Files.walk(dir)
      try w.iterator.asScala.toSeq.sortBy(-_.getNameCount).foreach(Files.deleteIfExists(_))
      finally w.close()
    }

  // ---- read path ---------------------------------------------------------

  /** Open a metric for querying; the shard column is exposed to the
    * executor for pruning but hidden from projections. Live time bounds come
    * from the shard directory names (metadata-only — the reference's
    * `[lowerShardBound, upperShardBound]` of live locations). */
  def read(c: Coords): Either[String, MetricRef] = {
    val log = logFor(c)
    // one consistent cut: a flush's publish swaps files in and drops the
    // buffer prefix under the write side of this lock
    log.withVisibility(write = false) {
      readMeta(c).map { m =>
        val struct = m.schema.toStruct.add("shard", LongType)
        val files =
          if (Files.isDirectory(Paths.get(dataPath(c)))) spark.read.schema(struct).parquet(dataPath(c))
          else spark.createDataFrame(java.util.List.of[Row](), struct)
        val fileShards = subdirs(dataPath(c)).filter(_.startsWith("shard=")).map(_.stripPrefix("shard=").toLong)
        (m, files, fileShards, log.records, storedRollup(c))
      }
    }.toRight(s"metric ${c.metric} does not exist").map { case (m, files, fileShards, buffered, stored) =>
      val snapshot = if (buffered.isEmpty) None else Some(bufferedFrame(m, buffered))
      val bufferedPerShard = buffered
        .groupMapReduce(b => Math.floorDiv(b.values("timestamp").asInstanceOf[Long], m.shardIntervalMs))(_ => 1L)(_ + _)
      val shardIds = (fileShards ++ bufferedPerShard.keys).distinct.sorted
      val bounds =
        if (shardIds.isEmpty) None
        else Some((shardIds.min * m.shardIntervalMs, (shardIds.max + 1) * m.shardIntervalMs - 1))
      // the files this read lists, per shard: footer counts must match them
      lazy val filesPerShard = files.inputFiles.toSeq.map(new Path(_))
        .groupBy(_.getParent.getName.stripPrefix("shard=").toLong)
      val rowCount = (sid: Long) =>
        footerRows(filesPerShard.getOrElse(sid, Nil).take(Warehouse.maxFooterReadsPerShard)) +
          bufferedPerShard.getOrElse(sid, 0L)
      val rollup = rollupCfg(c).flatMap { case (step, keys) =>
        val live = snapshot.map(graft.operators.Rollup.buildForServing(_, keys, "timestamp", "value", step))
        (stored ++ live).reduceOption(_ unionByName _)
          .map(s => RollupRef(graft.operators.Rollup.coalesceStats(s), step))
      }
      MetricRef(snapshot.fold(files)(files.union), m.schema,
        Some(ShardInfo("shard", m.shardIntervalMs, bounds, shardIds, Some(rowCount))), rollup = rollup)
    }
  }

  /**
   * Metadata-only row count of parquet files: the sum of their footers'
   * record counts, read driver-side. No Spark job, no data pages — a
   * footer is a few KB regardless of shard size, which is what lets the
   * executor's O3 narrowing stay free at 100 TB. [[read]] guards against
   * pathological file counts: a shard that [[compact]] has not yet visited
   * can hold tens of thousands of micro-batch files, and footer-walking
   * those serially would stall plan construction — past
   * `maxFooterReadsPerShard` footers the remaining files count as 0. The
   * result is then a LOWER bound, which is the only safe direction: O3
   * keeps pulling in shards until the counted total reaches the limit, so
   * under-counting can only widen the narrowed set (extra shards opened),
   * never drop rows the query needs. A file can vanish before its footer
   * is opened while racing compact's rename-aside swap — it counts as 0
   * (the same lower bound) instead of failing plan construction with
   * FileNotFoundException.
   */
  private def footerRows(files: Seq[Path]): Long = {
    val conf = spark.sparkContext.hadoopConfiguration
    files.map { f =>
      try {
        val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(f, conf)
        val r  = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        try r.getRecordCount finally r.close()
      } catch { case _: java.io.FileNotFoundException => 0L }
    }.sum
  }

  /** [[footerRows]] of the data files directly under `dirStr`. */
  private def footerRowCount(dirStr: String): Long = {
    val dir = new Path(dirStr)
    val fs  = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(dir)) 0L
    else footerRows(fs.listStatus(dir).toSeq.map(_.getPath)
      .filter(p => !p.getName.startsWith("_") && !p.getName.startsWith(".")))
  }

  // ---- delete / drop / retention ----------------------------------------

  /**
   * Predicate DELETE via copy-on-write partition rewrite: only shards whose
   * time range intersects the predicate's spans are rewritten; a shard left
   * empty is removed. Mirrors `ParsedDeleteQuery` execution + location
   * eviction.
   */
  def delete(stmt: Ast.DeleteStatement, targetBytes: Long = 128L << 20)(implicit tc: TimeContext): Either[String, Unit] = {
    val c = Coords(stmt.db, stmt.namespace, stmt.metric)
    readMeta(c).toRight(s"metric ${c.metric} does not exist").map { m =>
      flushedThen(c) {
        val spans    = TimeBuckets.extractSpans(Some(stmt.where), tc)
        val interval = m.shardIntervalMs
        val allShards = subdirs(dataPath(c)).filter(_.startsWith("shard=")).map(_.stripPrefix("shard=").toLong)
        val affected = if (spans.isEmpty) allShards
        else allShards.filter { s =>
          val lo = s * interval; val hi = (s + 1) * interval - 1
          spans.exists(sp => sp.lo <= hi && sp.hi >= lo)
        }
        if (affected.nonEmpty) {
          val pred = Executor.compile(stmt.where, tc)
          val fs   = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
          affected.foreach { s =>
            val shardDir = s"${dataPath(c)}/shard=$s"
            // size the rewrite like compact: ceil(shardBytes / targetBytes)
            // range-partitioned, time-sorted output files — pre-delete bytes
            // are an upper bound on the kept data, so files only get SMALLER
            // than target, never a single-task rewrite of an arbitrarily
            // large shard (the old coalesce(1) shape)
            val bytes = fs.listStatus(new Path(shardDir))
              .filter(f => f.isFile && !f.getPath.getName.startsWith("_") && !f.getPath.getName.startsWith("."))
              .map(_.getLen).sum
            val k = math.max(1, math.ceil(bytes.toDouble / targetBytes).toInt)
            val tmp = s"${c.path(root)}/.tmp_shard_$s"
            spark.read.schema(m.schema.toStruct).parquet(shardDir)
              .filter(!coalesce(pred, lit(false)))
              .repartitionByRange(k, col("timestamp")).sortWithinPartitions("timestamp")
              .write.mode("overwrite").parquet(tmp)
            // kept-row count from the WRITTEN files' parquet footers (driver-
            // side metadata, no data pages) — no count() pass over the kept
            // rows, no cache, and exact even when the rewrite is empty
            val n = footerRowCount(tmp)
            fs.delete(new Path(shardDir), true)
            if (n > 0) fs.rename(new Path(tmp), new Path(shardDir))
            else fs.delete(new Path(tmp), true)
          }
          // deleted rows invalidate the stats segments: rebuild from the
          // surviving data (one aggregation job over the rewritten shards)
          rollupStep(c).foreach(step => rebuildRollupLocked(c, m, step))
        }
      }
    }
  }

  /**
   * Shard compaction: rewrite any shard holding more than
   * `maxFilesPerShard` files into `ceil(bytes / targetBytes)` files.
   * Ingest appends one file per shard per micro-batch — without periodic
   * compaction a day-shard fed by a 1 s trigger accumulates ~86k tiny
   * files, and at 100 TB scan-side file listing/opening dominates the
   * query. Copy-on-write under the metric lock, swapped via rename-aside
   * (write tmp → rename live dir to `.old_compact_<sid>` → rename tmp into
   * place → delete the aside copy): every crash point leaves a complete
   * copy of the shard on disk, and [[recoverCompact]] (run on entry)
   * restores a shard whose swap died between the two renames. Concurrent
   * READERS are not excluded by the metric lock (it serializes writers
   * only): a scan racing the swap can transiently hit FileNotFoundException
   * during the two-metadata-op rename window and should simply retry — the
   * same exposure any copy-on-write swap without snapshot isolation has.
   * Returns the compacted shard ids.
   */
  def compact(
      c: Coords,
      maxFilesPerShard: Int = 8,
      targetBytes: Long = 128L << 20
  ): Either[String, Seq[Long]] =
    readMeta(c).toRight(s"metric ${c.metric} does not exist").map { m =>
      flushedThen(c) {
        val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
        recoverCompact(c, fs)
        subdirs(dataPath(c)).filter(_.startsWith("shard=")).flatMap { sh =>
          val sid      = sh.stripPrefix("shard=").toLong
          val shardDir = new Path(s"${dataPath(c)}/$sh")
          val files = fs.listStatus(shardDir)
            .filter(f => f.isFile && !f.getPath.getName.startsWith("_") && !f.getPath.getName.startsWith("."))
          if (files.length <= maxFilesPerShard) None
          else {
            val k   = math.max(1, math.ceil(files.map(_.getLen).sum.toDouble / targetBytes).toInt)
            val tmp = new Path(s"${c.path(root)}/.tmp_compact_$sid")
            val old = new Path(s"${c.path(root)}/.old_compact_$sid")
            // range-partition + sort by timestamp on the way out: output
            // files cover disjoint time ranges and every row group gets
            // tight timestamp min/max stats, so time predicates skip whole
            // files/row groups inside the shard (the intra-shard analogue
            // of the reference's time-ordered Lucene index). The shuffle is
            // per-shard and bounded by targetBytes·k — background cost.
            // Compacted (cold) data recompresses as zstd: ingest keeps the
            // cheap default codec for write latency, the background pass
            // buys the better ratio — at 100 TB that difference is scan IO.
            spark.read.schema(m.schema.toStruct).parquet(shardDir.toString)
              .repartitionByRange(k, col("timestamp")).sortWithinPartitions("timestamp")
              .write.mode("overwrite").option("compression", "zstd").parquet(tmp.toString)
            fs.rename(shardDir, old)
            fs.rename(tmp, shardDir)
            fs.delete(old, true)
            Some(sid)
          }
        }
      }
    }

  /**
   * Repair half-finished compaction swaps: a leftover `.old_compact_<sid>`
   * whose `shard=<sid>` is missing means the crash hit between the two
   * renames — restore the aside copy; otherwise the swap completed and
   * only the delete was lost — drop the leftover. Stale `.tmp_compact_*`
   * output (crash during the rewrite) is always safe to delete.
   */
  private def recoverCompact(c: Coords, fs: org.apache.hadoop.fs.FileSystem): Unit = {
    val base = new Path(c.path(root))
    if (fs.exists(base)) fs.listStatus(base).foreach { st =>
      val name = st.getPath.getName
      if (name.startsWith(".old_compact_")) {
        val shardDir = new Path(s"${dataPath(c)}/shard=${name.stripPrefix(".old_compact_")}")
        if (!fs.exists(shardDir)) fs.rename(st.getPath, shardDir)
        else fs.delete(st.getPath, true)
      } else if (name.startsWith(".tmp_compact_")) fs.delete(st.getPath, true)
    }
  }

  /** DROP METRIC: remove data + catalog entry. Buffered records and the
    * log go with it, unflushed (an in-flight flush finishes first). */
  def drop(c: Coords): Unit = {
    val log = logFor(c)
    log.flushing.synchronized {
      withWriteLock(c) {
        log.discard()
        val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
        fs.delete(new Path(c.path(root)), true)
      }
    }
  }

  /**
   * Retention eviction: drop whole shards entirely older than
   * `now - retention` (reference: `TimeRangeManager.getLocationsToEvict`),
   * then PARTIALLY evict the boundary shard — a shard that straddles the
   * cutoff keeps its live rows and sheds the expired ones via the
   * copy-on-write delete path, mirroring the reference's
   * `partiallyEvictPerform` (a DELETE statement against the boundary
   * location, `MetadataCoordinator.scala:268-311`). Returns the FULLY
   * evicted shard ids.
   */
  // ---- maintained rollups (facet-index analogue) -------------------------

  /**
   * Enable write-time rollup maintenance for a metric: a sufficient-
   * statistics segment log ([[graft.operators.Rollup.buildForServing]]
   * grain, `stepMs` cells) kept current by [[append]] and rebuilt by
   * [[delete]]/eviction — the warehouse face of the reference's facet
   * indexes (`AllFacetIndexes.scala:147-169`: every accumulated batch
   * updates the pre-aggregated structures at write time). [[read]] attaches
   * it, so eligible temporal dialect queries serve from stats without
   * scanning raw shards.
   */
  /**
   * Enable write-maintained rollup stats at `stepMs` grain (optionally
   * keyed). `keepOnEvict = true` turns the rollup into a TIERED-RETENTION
   * record (the RRD/downsampling pattern): retention eviction then deletes
   * raw shards but PRESERVES their rollup cells, so rollup-eligible
   * temporal aggregations keep answering over the evicted span while raw
   * scans age out. With the flag on, retention rounds down to the shard
   * grain (whole shards only — a partial boundary delete would silently
   * desync raw and cells), and an explicit DELETE still rebuilds stats
   * from the remaining raw (dropping the downsampled tier for that
   * metric) — the tier is maintained by the retention sweep, not by
   * manual deletes.
   */
  def enableRollup(c: Coords, stepMs: Long, keys: Seq[String] = Seq.empty,
                   keepOnEvict: Boolean = false): Either[String, Unit] = {
    require(stepMs > 0, "stepMs must be positive")
    readMeta(c).toRight(s"metric ${c.metric} does not exist").map { m =>
      flushedThen(c) {
        val keyJson = keys.map(k => "\"" + k + "\"").mkString("[", ",", "]")
        replaceFile(rollupCfgPath(c),
          s"""{"stepMs":$stepMs,"keys":$keyJson,"keepOnEvict":$keepOnEvict}""")
        rebuildRollupLocked(c, m, stepMs)
      }
    }
  }

  /** Whether the rollup is a tiered-retention record (see [[enableRollup]]). */
  def rollupKeepOnEvict(c: Coords): Boolean =
    Try {
      val json = new String(Files.readAllBytes(Paths.get(rollupCfgPath(c))), StandardCharsets.UTF_8)
      """"keepOnEvict"\s*:\s*true""".r.findFirstIn(json).isDefined
    }.getOrElse(false)

  /** The configured rollup grain (+ key columns), if enabled. */
  def rollupCfg(c: Coords): Option[(Long, Seq[String])] =
    Try {
      val json = new String(Files.readAllBytes(Paths.get(rollupCfgPath(c))), StandardCharsets.UTF_8)
      """"stepMs"\s*:\s*(\d+)""".r.findFirstMatchIn(json).map { mm =>
        val keys = """"keys"\s*:\s*\[([^\]]*)\]""".r.findFirstMatchIn(json)
          .map(_.group(1).split(",").map(_.trim.stripPrefix("\"").stripSuffix("\"")).filter(_.nonEmpty).toSeq)
          .getOrElse(Seq.empty)
        (mm.group(1).toLong, keys)
      }
    }.toOption.flatten

  /** The configured rollup grain, if rollup maintenance is enabled. */
  def rollupStep(c: Coords): Option[Long] = rollupCfg(c).map(_._1)

  /** Rebuild the segment log from the current data (also the compaction:
    * the log re-collapses to one segment). Crash-safe rename-aside swap. */
  def rebuildRollup(c: Coords): Either[String, Unit] =
    readMeta(c).toRight(s"metric ${c.metric} does not exist").flatMap { m =>
      rollupStep(c).toRight(s"rollup not enabled for ${c.metric}").map { step =>
        flushedThen(c) { rebuildRollupLocked(c, m, step) }
      }
    }

  private def rebuildRollupLocked(c: Coords, m: Meta, stepMs: Long): Unit = {
    val fs  = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dir = new Path(rollupDir(c))
    if (!fs.exists(new Path(dataPath(c)))) { fs.delete(dir, true); () }
    else {
      val tmp = new Path(rollupDir(c) + ".tmp")
      val df  = spark.read.schema(m.schema.toStruct.add("shard", LongType)).parquet(dataPath(c))
      graft.operators.Rollup
        .buildForServing(df, rollupCfg(c).map(_._2).getOrElse(Seq.empty), "timestamp", "value", stepMs)
        .write.mode("overwrite").parquet(tmp.toString)
      fs.delete(dir, true)
      fs.rename(tmp, dir)
      ()
    }
  }

  /** Append one batch's stats segment (called under [[append]]'s lock). */
  private def appendRollupSegment(c: Coords, batch: DataFrame, stepMs: Long): Unit = {
    graft.operators.Rollup
      .buildForServing(batch, rollupCfg(c).map(_._2).getOrElse(Seq.empty), "timestamp", "value", stepMs)
      .write.mode("append").parquet(rollupDir(c))
    ()
  }

  /** The flushed segment log of the rollup, if enabled and built. */
  private def storedRollup(c: Coords): Option[DataFrame] =
    rollupStep(c).filter(_ => Files.isDirectory(Paths.get(rollupDir(c)))).map(_ => spark.read.parquet(rollupDir(c)))

  def evictExpired(c: Coords)(implicit tc: TimeContext): Either[String, Seq[Long]] =
    readMeta(c).toRight(s"metric ${c.metric} does not exist").flatMap { m =>
      if (m.retentionMs <= 0) Right(Seq.empty)
      else {
        // tiered retention: with keepOnEvict the rollup is the lasting
        // record for evicted spans — raw shards go, their cells stay.
        // keepTier is read INSIDE the write lock so a concurrent
        // enableRollup toggling keepOnEvict can't race the sweep into
        // rebuilding the rollup after the shards it preserved are gone.
        val (keepTier, evicted) = flushedThen(c) {
          val keep   = rollupStep(c).isDefined && rollupKeepOnEvict(c)
          val cutoff = tc.currentTime - m.retentionMs
          val fs     = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
          val full = subdirs(dataPath(c))
            .filter(_.startsWith("shard="))
            .map(_.stripPrefix("shard=").toLong)
            .filter(s => (s + 1) * m.shardIntervalMs - 1 < cutoff)
          full.foreach(s => fs.delete(new Path(s"${dataPath(c)}/shard=$s"), true))
          if (full.nonEmpty && !keep)
            rollupStep(c).foreach(step => rebuildRollupLocked(c, m, step))
          (keep, full)
        }
        if (keepTier) Right(evicted) // whole-shard grain; boundary shard stays raw
        else {
          val cutoff = tc.currentTime - m.retentionMs
          val straddles = subdirs(dataPath(c))
            .filter(_.startsWith("shard="))
            .map(_.stripPrefix("shard=").toLong)
            .exists(s => s * m.shardIntervalMs < cutoff)
          // partial-eviction failure propagates through the Either channel —
          // a thrown exception here would abort the caller's whole sweep for
          // every remaining metric instead of being reported per-metric
          if (straddles)
            delete(Ast.DeleteStatement(c.db, c.namespace, c.metric,
              Ast.CmpPred("timestamp", Ast.Lt, Ast.AbsValue(cutoff))))
              .left.map(err => s"partial eviction failed: $err")
              .map(_ => evicted)
          else Right(evicted)
        }
      }
    }
}

/**
 * Background retention + compaction sweep — the reference's periodic
 * retention check (`nsdb.retention.check.interval`,
 * `MetadataCoordinator.scala:83-84,198`): every `intervalMs` each
 * warehouse metric is swept — expired shards dropped, the boundary shard
 * partially evicted, small-files shards compacted. One daemon thread;
 * `close()` stops it.
 */
object Maintenance {

  /** Outcome of one sweep: what ran, what it did, what failed. A
    * permanently failing eviction must be VISIBLE — errors are logged per
    * metric and the whole report is queryable ([[lastSweep]], surfaced over
    * the REST command API). */
  final case class SweepReport(atMs: Long, metricsSwept: Int, evictedShards: Int,
                               compactedShards: Int, errors: Seq[String],
                               sidecarsRecapped: Int = 0)

  @volatile private var last: Option[SweepReport] = None

  /** the most recent sweep's report (scheduled or manual), if any ran. */
  def lastSweep: Option[SweepReport] = last

  def runOnce(wh: Warehouse)(implicit tc: TimeContext): SweepReport = {
    val errors = Seq.newBuilder[String]
    var swept = 0; var evicted = 0; var compacted = 0
    for {
      db <- wh.listDatabases
      ns <- wh.listNamespaces(db)
      m  <- wh.listMetrics(db, ns)
    } {
      swept += 1
      val c = Coords(db, ns, m)
      // one metric's failure never aborts the sweep for the rest — Lefts
      // (evictExpired propagates partial-eviction failure as Left for
      // exactly this reason) AND thrown IO/corruption surprises are both
      // recorded per metric and reported
      try {
        wh.evictExpired(c).fold(e => errors += s"$db.$ns.$m evict: $e", s => evicted += s.size)
        wh.compact(c).fold(e => errors += s"$db.$ns.$m compact: $e", s => compacted += s.size)
      } catch {
        case scala.util.control.NonFatal(e) => errors += s"$db.$ns.$m sweep: ${e.getMessage}"
      }
    }
    // sidecar re-cap for registered streaming-gate indexes — the banded
    // relation's bucket cap erodes as accepted batches append un-capped
    // rows; the sweep restores it (reference parity: the periodic
    // retention check, MetadataCoordinator.scala:83-84,198)
    val (recapped, sidecarErrs) = graft.pipeline.StreamingDedup.compactSidecars(wh.spark)
    errors ++= sidecarErrs
    val report = SweepReport(tc.currentTime, swept, evicted, compacted, errors.result(), recapped)
    report.errors.foreach(e => System.err.println(s"[graft-maintenance] $e"))
    last = Some(report)
    report
  }

  def start(wh: Warehouse, intervalMs: Long = 60000L): AutoCloseable = {
    val ex = java.util.concurrent.Executors.newSingleThreadScheduledExecutor { r =>
      val t = new Thread(r, "graft-maintenance"); t.setDaemon(true); t
    }
    ex.scheduleWithFixedDelay(
      () =>
        try { Maintenance.runOnce(wh)(TimeContext(System.currentTimeMillis())); () }
        catch {
          // a sweep that dies outside the per-metric Either channel (e.g.
          // catalog listing IO) is still logged and reported — never silent
          case scala.util.control.NonFatal(e) =>
            System.err.println(s"[graft-maintenance] sweep failed: ${e.getMessage}")
            last = Some(SweepReport(System.currentTimeMillis(), 0, 0, 0, Seq(s"sweep failed: ${e.getMessage}")))
        },
      intervalMs, intervalMs, java.util.concurrent.TimeUnit.MILLISECONDS)
    () => { ex.shutdownNow(); () }
  }
}

object Warehouse {
  /** Footer-read budget per shard for metadata row counts — bounds O3
    * plan-construction latency on shards compaction hasn't reached yet. */
  val maxFooterReadsPerShard: Int = 64

  /** JVM-wide per-metric-path monitors: two Warehouse instances on the same
    * root share one monitor, so in-process writers serialize BEFORE the
    * cross-process file lock is attempted (same-JVM file-lock overlap would
    * throw instead of blocking). */
  private val monitors = new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private[catalog] def monitorFor(key: String): Object = monitors.computeIfAbsent(key, _ => new Object)

  /** JVM-wide write buffers, keyed like [[monitors]]. */
  private[catalog] val logs = new java.util.concurrent.ConcurrentHashMap[String, MetricLog]()

  /** Drop a buffer whose log directory is gone (see [[Warehouse.logFor]]);
    * it recovers afresh on next use. */
  private[catalog] def discardIfStale(key: String, log: MetricLog): Unit =
    if (log.stale) monitorFor(key).synchronized {
      if (log.stale) { log.discard(); log.recovered = false }
    }

  /** The daemon thread that flushes write buffers by size and age: it
    * checks every buffer each second, or at once when an insert fills one. */
  private[catalog] object Flusher {
    private val TickMs = 1000L
    private val signal = new Object
    private lazy val thread = {
      val t = new Thread(() => while (true) { await(); sweep() }, "graft-write-flusher")
      t.setDaemon(true)
      t.start()
      t
    }

    def started(): Unit = { thread; () }
    def wake(): Unit    = signal.synchronized(signal.notifyAll())
    private def await(): Unit = signal.synchronized(signal.wait(TickMs))

    private def sweep(): Unit = logs.forEach { (key, log) =>
      discardIfStale(key, log)
      if (log.due(System.nanoTime())) log.owner.foreach { case (wh, c) =>
        val sc = wh.spark.sparkContext
        try {
          if (sc.isStopped) sys.error("its SparkSession is stopped")
          // a job group of its own, not one inherited from the thread that started the flusher
          sc.setJobGroup("graft-flush", s"flush ${c.db}.${c.namespace}.${c.metric}")
          try wh.flushBuffered(c, log) finally sc.clearJobGroup()
        } catch {
          case scala.util.control.NonFatal(e) =>
            log.retryAtNanos = System.nanoTime() + WriteLog.FlushAgeNanos
            System.err.println(s"[graft-flush] ${c.db}.${c.namespace}.${c.metric}: ${e.getMessage}")
        }
      }
    }
  }
}
