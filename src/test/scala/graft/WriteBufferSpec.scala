package graft.catalog

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.{GraftEngine, SparkTestBase}
import graft.plan.TimeContext
import graft.sql.Ast

/** Forked writer for the crash spec: its own JVM acknowledges `n` inserts,
  * writes `<root>/.acked`, waits for `<root>/.go` and halts without
  * flushing or running shutdown hooks. */
object WalCrashMain {
  def main(args: Array[String]): Unit = {
    val Array(root, nStr) = args
    val spark = SparkSession.builder().master("local[1]").config("spark.ui.enabled", "false").getOrCreate()
    val wh = new Warehouse(spark, root)
    implicit val tc: TimeContext = TimeContext(0L)
    (1 to nStr.toInt).foreach { i =>
      wh.insert(WriteBufferSpec.record("crash", i)).left.foreach { e =>
        System.err.println(s"[wal-crash] insert $i rejected: $e")
        Runtime.getRuntime.halt(2)
      }
    }
    Files.write(Paths.get(root, ".acked"), nStr.getBytes(StandardCharsets.UTF_8))
    while (!Files.exists(Paths.get(root, ".go"))) Thread.sleep(20)
    Runtime.getRuntime.halt(0)
  }
}

object WriteBufferSpec {
  val Day = 86400000L

  /** record `k` of a metric: timestamp `k * 1000`, unless given. */
  def record(metric: String, k: Long, ts: Option[Long] = None): Ast.InsertStatement =
    Ast.InsertStatement("db", "ns", metric, Some(ts.getOrElse(k * 1000L)),
      Map("k" -> k), Map("kind" -> (if (k % 2 == 0) "even" else "odd")), k.toDouble)
}

/** The write buffer: acknowledged inserts are durable in the metric's log
  * and readable in the JVM before any Spark job; flushes, the other
  * mutations, crash recovery and concurrent readers never lose or double a
  * record. */
class WriteBufferSpec extends SparkTestBase {

  import WriteBufferSpec._

  private implicit val tc: TimeContext = TimeContext(10 * Day)

  private def fresh(): (GraftEngine, Warehouse, String) = {
    val root = Files.createTempDirectory("graft_wal_").toString
    val wh   = new Warehouse(spark, root)
    (new GraftEngine(spark, Some(wh)), wh, root)
  }

  private def insert(wh: Warehouse, metric: String, k: Long, ts: Option[Long] = None): Unit =
    wh.insert(record(metric, k, ts)).fold(e => fail(e), _ shouldBe 1L)

  private def ids(wh: Warehouse, c: Coords): Seq[Long] =
    wh.read(c).fold(fail(_), _.df.select("k").collect().map(_.getLong(0)).toSeq.sorted)

  private def parquetFiles(root: String, c: Coords): Seq[Path] = {
    val dir = Paths.get(c.path(root), "data")
    if (!Files.exists(dir)) Seq.empty
    else {
      val w = Files.walk(dir)
      try w.iterator.asScala.filter(_.getFileName.toString.endsWith(".parquet")).toSeq finally w.close()
    }
  }

  private def count(e: GraftEngine, q: String): Long =
    e.sql("db", "ns", q).fold(fail(_), _.collect().head.getAs[Number]("count").longValue)

  "Warehouse.insert" should "acknowledge from the log without a Spark job and read its own writes" in {
    val (_, wh, root) = fresh()
    val c  = Coords("db", "ns", "ack")
    val sc = spark.sparkContext
    sc.setJobGroup("wal-insert-spec", "inserts")
    try (1L to 20L).foreach(insert(wh, "ack", _))
    finally sc.clearJobGroup()
    sc.statusTracker.getJobIdsForGroup("wal-insert-spec") shouldBe empty
    parquetFiles(root, c) shouldBe empty
    WriteLog.segmentIds(Paths.get(c.path(root), "wal")) should have size 1
    ids(wh, c) shouldBe (1L to 20L)
  }

  it should "flush the buffer as one parquet file per shard and retire the log" in {
    val (_, wh, root) = fresh()
    val c = Coords("db", "ns", "batch")
    (1L to 10L).foreach(k => insert(wh, "batch", k, Some(if (k <= 6) k * 1000L else Day + k)))
    wh.flush(c)
    parquetFiles(root, c).map(_.getParent.getFileName.toString).sorted shouldBe Seq("shard=0", "shard=1")
    WriteLog.segmentIds(Paths.get(c.path(root), "wal")) shouldBe empty
    Files.exists(Paths.get(c.path(root), ".staging", "1")) shouldBe false
    ids(wh, c) shouldBe (1L to 10L)
    // the next insert opens a new segment and stays buffered
    insert(wh, "batch", 11L)
    ids(wh, c) shouldBe (1L to 11L)
    parquetFiles(root, c) should have size 2
  }

  it should "let DELETE remove buffered rows" in {
    val (e, wh, _) = fresh()
    val c = Coords("db", "ns", "del")
    (1L to 4L).foreach(insert(wh, "del", _))
    e.sql("db", "ns", "delete from del where timestamp > 2500").fold(fail(_), identity)
    ids(wh, c) shouldBe Seq(1L, 2L)
    wh.flush(c)
    ids(wh, c) shouldBe Seq(1L, 2L)
  }

  it should "show no ghost rows after drop and re-create" in {
    val (_, wh, root) = fresh()
    val c = Coords("db", "ns", "ghost")
    (1L to 3L).foreach(insert(wh, "ghost", _))
    wh.drop(c)
    wh.exists(c) shouldBe false
    insert(wh, "ghost", 7L)
    ids(wh, c) shouldBe Seq(7L)
    wh.flush(c)
    ids(wh, c) shouldBe Seq(7L)
    parquetFiles(root, c) should have size 1
  }

  it should "apply retention eviction to buffered rows" in {
    val (_, wh, _) = fresh()
    val c = Coords("db", "ns", "ret")
    wh.initMetric(c, shardIntervalMs = 1000L, retentionMs = 4500L) shouldBe Right(())
    // now = 10000 → cutoff 5500: shards 1 and 2 go whole, shard 5 straddles
    Seq(1L -> 1000L, 2L -> 2000L, 3L -> 5200L, 4L -> 5800L, 5L -> 9000L, 6L -> 9500L)
      .foreach { case (k, ts) => insert(wh, "ret", k, Some(ts)) }
    wh.evictExpired(c)(TimeContext(10000L)).fold(fail(_), _.sorted) shouldBe Seq(1L, 2L)
    ids(wh, c) shouldBe Seq(4L, 5L, 6L)
  }

  it should "count buffered rows in a rollup-served global count, before and after a flush" in {
    import spark.implicits._
    val (e, wh, root) = fresh()
    val c = Coords("db", "ns", "roll")
    wh.append(c, Seq((500L, 1.0, 100L, "odd"), (1500L, 2.0, 101L, "odd")).toDF("timestamp", "value", "k", "kind"),
      tags = Set("kind")).fold(fail(_), identity)
    wh.enableRollup(c, 1000L).fold(fail(_), identity)
    (1L to 3L).foreach(insert(wh, "roll", _))
    def check(): Unit = {
      val served = e.sql("db", "ns", "select count(*) from roll").fold(fail(_), identity)
      withClue(served.queryExecution.executedPlan.toString) {
        served.queryExecution.executedPlan.toString should not include s"${c.path(root)}/data"
      }
      served.collect().head.getAs[Number]("count").longValue shouldBe 5L
      wh.read(c).fold(fail(_), _.df.count()) shouldBe 5L
    }
    check()
    wh.flush(c)
    check()
  }

  it should "return buffered newest rows for order by timestamp desc limit k" in {
    import spark.implicits._
    val (e, wh, _) = fresh()
    val c = Coords("db", "ns", "newest")
    wh.append(c, (1L to 6L).map(k => (k * Day / 4, k.toDouble, k, "odd")).toDF("timestamp", "value", "k", "kind"),
      tags = Set("kind")).fold(fail(_), identity)
    (7L to 9L).foreach(k => insert(wh, "newest", k, Some(5 * Day + k)))
    def newest(n: Int): Seq[Long] =
      e.sql("db", "ns", s"select k from newest order by timestamp desc limit $n")
        .fold(fail(_), _.collect().map(_.getAs[Long]("k")).toSeq)
    newest(2) shouldBe Seq(9L, 8L)
    // past the buffered shard: O3 must count its buffered rows, not skip older shards
    newest(5) shouldBe Seq(9L, 8L, 7L, 6L, 5L)
  }

  it should "keep parquet pushdown and drop the buffer branch a time range excludes" in {
    import spark.implicits._
    val (e, wh, _) = fresh()
    val c = Coords("db", "ns", "prune")
    wh.append(c, (1L to 4L).map(k => (k * 1000L, k.toDouble, k, "odd")).toDF("timestamp", "value", "k", "kind"),
      tags = Set("kind")).fold(fail(_), identity)
    (5L to 6L).foreach(k => insert(wh, "prune", k, Some(5 * Day + k)))
    def plan(q: String) = e.sql("db", "ns", q).fold(fail(_), _.queryExecution)
    val old = plan("select count(*) from prune where timestamp in (0, 3500) group by kind")
    old.optimizedPlan.collect { case l: org.apache.spark.sql.catalyst.plans.logical.LocalRelation => l } shouldBe empty
    old.executedPlan.toString should include("PushedFilters: [IsNotNull(timestamp), GreaterThanOrEqual(timestamp,0)")
    val recent = plan("select count(*) from prune where timestamp >= 3500 group by kind")
    recent.optimizedPlan.collect { case l: org.apache.spark.sql.catalyst.plans.logical.LocalRelation => l } should not be empty
    count(e, "select count(*) from prune where timestamp >= 3500") shouldBe 3L
  }

  it should "make SQL INSERT and gRPC InsertBit read-your-writes" in {
    import graft.rpc.RpcMessages._
    val (e, wh, root) = fresh()
    e.sql("db", "ns", "insert into viasql ts=1000 dim(k=1) tags(kind=odd) val=1.5").fold(fail(_), identity)
    count(e, "select count(*) from viasql") shouldBe 1L
    val api    = new graft.rpc.GrpcApi(e)
    val client = new graft.rpc.GrpcClient(port = api.start())
    try {
      client.write(RpcInsert("db", "ns", "viarpc", 2000L, DecimalValue(2.5),
        Map("k" -> LongValue(2L)), Map("kind" -> StringValue("even")))) shouldBe
        Right(RpcInsertResult(completedSuccessfully = true))
      val sel = client.executeSQLStatement(SqlRequest("db", "ns", "viarpc", "select * from viarpc")).toOption.get
      sel.records.map(_.timestamp) shouldBe Seq(2000L)
    } finally { client.close(); api.stop() }
    Seq("viasql", "viarpc").foreach(m => parquetFiles(root, Coords("db", "ns", m)) shouldBe empty)
    wh.flush(Coords("db", "ns", "viarpc"))
    count(e, "select count(*) from viarpc") shouldBe 1L
  }

  it should "never show a reader a duplicate or an unacknowledged row while flushes run" in {
    val (_, wh, root) = fresh()
    val c       = Coords("db", "ns", "race")
    val started = new AtomicLong
    val acked   = new AtomicLong
    val flushes = new AtomicLong
    val until   = System.nanoTime() + 4000L * 1000000L
    val writer = new Thread(() => {
      var k = 0L
      while (System.nanoTime() < until) {
        k += 1
        started.set(k)
        insert(wh, "race", k)
        acked.set(k)
        Thread.sleep(1)
      }
    })
    val flusher = new Thread(() =>
      while (writer.isAlive) { wh.flush(c); flushes.incrementAndGet(); Thread.sleep(100) })
    writer.start()
    while (acked.get == 0) Thread.sleep(1)
    flusher.start()
    var reads = 0
    while (writer.isAlive) {
      // a row is visible from its log append on, so it may show before the
      // insert returns; it may not show before the insert starts
      val lo   = acked.get
      val seen = ids(wh, c)
      val hi   = started.get
      seen.distinct.size shouldBe seen.size
      seen.size.toLong should (be >= lo and be <= hi)
      seen shouldBe (1L to seen.size.toLong)
      reads += 1
    }
    flusher.join()
    reads should be > 3
    flushes.get should be > 3L
    parquetFiles(root, c).size should be > 1
    ids(wh, c) shouldBe (1L to acked.get)
  }

  it should "make a read wait while a flush publishes" in {
    val (_, wh, _) = fresh()
    val c = Coords("db", "ns", "cut")
    insert(wh, "cut", 1L)
    ids(wh, c) shouldBe Seq(1L)
    val publishing = wh.logFor(c).visibility.writeLock()
    publishing.lock()
    val reader = new Thread(() => { wh.read(c); () })
    try {
      reader.start()
      reader.join(2000)
      // the file listing and the buffer snapshot are one cut: no read in between
      reader.isAlive shouldBe true
    } finally publishing.unlock()
    reader.join(60000)
    reader.isAlive shouldBe false
  }

  it should "recover exactly once from every crash point of a flush" in {
    val (_, wh, root) = fresh()
    val c = Coords("db", "ns", "steps")
    val n = 8L
    (1L to n).foreach(k => insert(wh, "steps", k, Some(if (k % 2 == 0) k else Day + k)))
    val log = wh.logFor(c)
    // what a process starting after a crash here would read: a copy of the
    // metric's tree under a new root (no process holds the copy's segments)
    def afterCrash(point: String): Unit = withClue(s"crash point: $point") {
      val copyRoot = Files.createTempDirectory("graft_wal_copy_")
      val src      = Paths.get(c.path(root))
      val dst      = Paths.get(c.path(copyRoot.toString))
      val w        = Files.walk(src)
      try w.iterator.asScala.foreach { p =>
        val t = dst.resolve(src.relativize(p).toString)
        if (Files.isDirectory(p)) Files.createDirectories(t) else Files.copy(p, t)
      } finally w.close()
      val other = new Warehouse(spark, copyRoot.toString)
      ids(other, c) shouldBe (1L to n)
      other.flush(c)
      ids(other, c) shouldBe (1L to n)
      other.drop(c)
    }
    log.flushing.synchronized {
      val f = wh.freeze(c, log).get
      afterCrash("segment sealed")
      wh.stage(c, f)
      afterCrash("parquet staged, not published")
      wh.markPublished(log, f)
      afterCrash("marked published, nothing renamed")
      val staged = WriteLog.stagingDir(Paths.get(c.path(root)), f.id).resolve("data")
      val first  = Files.list(staged.resolve("shard=0")).iterator.asScala
        .filter(_.getFileName.toString.endsWith(".parquet")).next()
      val target = Paths.get(c.path(root), "data", "shard=0")
      Files.createDirectories(target)
      Files.move(first, target.resolve(first.getFileName))
      afterCrash("one file renamed")
      wh.moveStaged(c, f.id)
      afterCrash("all files renamed, segments not retired")
      f.segments.foreach(s => Files.delete(WriteLog.segmentPath(log.walDir, s)))
      afterCrash("segments deleted, marker left")
      log.withVisibility(write = true)(log.records = log.records.drop(f.rows.size))
      wh.retire(log, f.id, f.segments)
    }
    ids(wh, c) shouldBe (1L to n)
    WriteLog.markerIds(log.walDir) shouldBe empty
  }

  it should "replay the acknowledged inserts of a halted process exactly once, and never a live one's" in {
    val root = Files.createTempDirectory("graft_wal_crash_").toString
    val c    = Coords("db", "ns", "crash")
    val n    = 25
    val javaBin = Paths.get(sys.props("java.home"), "bin", "java").toString
    val addOpens = Seq("java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
      "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
      "sun.security.action", "sun.util.calendar").flatMap(p => Seq("--add-opens", s"java.base/$p=ALL-UNNAMED"))
    val childLog = new java.io.File(s"$root/child.log")
    val pb = new ProcessBuilder((Seq(javaBin) ++ addOpens ++ Seq("-Xmx1g", "-cp", sys.props("java.class.path"),
      "graft.catalog.WalCrashMain", root, n.toString)): _*)
    pb.redirectErrorStream(true)
    pb.redirectOutput(childLog)
    val child = pb.start()
    try {
      val acked    = Paths.get(root, ".acked")
      val deadline = System.nanoTime() + 180L * 1000000000L
      while (!Files.exists(acked) && child.isAlive && System.nanoTime() < deadline) Thread.sleep(50)
      withClue(s"child log:\n${new String(Files.readAllBytes(childLog.toPath)).takeRight(2000)}\n") {
        Files.exists(acked) shouldBe true
      }
      // the live writer holds its segment: nobody else may adopt it
      val wal = Paths.get(c.path(root), "wal")
      WriteLog.segmentIds(wal) should not be empty
      WriteLog.segmentIds(wal).foreach(id => WriteLog.adopt(wal, id) shouldBe None)
      Files.write(Paths.get(root, ".go"), Array.emptyByteArray)
      child.waitFor(60, java.util.concurrent.TimeUnit.SECONDS) shouldBe true
      child.exitValue() shouldBe 0
      val wh = new Warehouse(spark, root)
      ids(wh, c) shouldBe (1L to n.toLong)
      wh.flush(c)
      ids(wh, c) shouldBe (1L to n.toLong)
      WriteLog.segmentIds(wal) shouldBe empty
    } finally if (child.isAlive) child.destroyForcibly()
  }

  it should "replay a segment's frames up to a torn or corrupt one" in {
    val frames = (1 to 3).map(i => WriteLog.frame(Map("timestamp" -> i.toLong, "value" -> 1.5, "kind" -> s"s$i")))
    val whole  = frames.reduce(_ ++ _)
    WriteLog.read(whole ++ frames.head.take(5)).map(_("kind")) shouldBe Seq("s1", "s2", "s3")
    val corrupt = whole.clone(); corrupt(frames(0).length + 10) = (corrupt(frames(0).length + 10) ^ 1).toByte
    WriteLog.read(corrupt).map(_("kind")) shouldBe Seq("s1")
  }
}
