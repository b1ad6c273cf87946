package graftbench

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.GraftEngine
import graft.catalog.{Coords, Warehouse}
import graft.exec.Executor
import graft.http.{HttpApi, LiveSub, SseSubscriber, SubscriptionHub}
import graft.plan.{Planner, TimeContext}
import graft.sql.{Ast, SqlParser}

/**
 * The serving workloads' server process: a fresh warehouse preloaded with
 * the `events` table as metric `graft.main.events`, served by a loopback
 * [[HttpApi]].
 *
 * A second loopback port takes the load generator's control calls:
 *  - `POST /chain/query {"q":...}` and `POST /chain/insert {record}` run
 *    one operation in-process through the layers' public functions —
 *    `SqlParser.parse`, `Warehouse.read`, `Planner.plan`,
 *    `Executor.execute`, the `toJSON.toLocalIterator` drain;
 *    `Warehouse.insert` and `SubscriptionHub.publish` — with a span
 *    around each call, under a job group of its own;
 *  - `POST /trace/on` registers the Spark listener and a probe
 *    subscriber, `POST /trace/off` removes them again, and
 *    `POST /trace/report` answers the per-layer report of the traced
 *    stretches so far;
 *  - `GET /stats` answers process counters; `POST /stop` exits.
 *
 * Prints `READY <http port> <control port> <setup ms>` once serving.
 */
object Serve {

  val Db = "graft"; val Ns = "main"; val Metric = "events"
  private val mapper = new ObjectMapper()

  def main(args: Array[String]): Unit = {
    val opt   = Args(args)
    val spark = graft.GraftSession.builder(4).master("local[4]")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val coords = Coords(Db, Ns, Metric)
    val wh     = new Warehouse(spark, opt("warehouse"))
    preload(spark, wh, coords, opt("events"))
    val engine = new GraftEngine(spark, Some(wh))
    val hub    = new SubscriptionHub
    val api    = new HttpApi(engine, hub = hub)
    val port   = api.start()
    val chain  = new Chain(spark, engine, wh, hub, coords, opt("warehouse"))
    val ctl    = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    val done   = new java.util.concurrent.CountDownLatch(1)
    def route(path: String)(f: JsonNode => String): Unit =
      ctl.createContext(path, (ex: HttpExchange) => {
        val (status, body) =
          try {
            val raw = new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
            (200, f(if (raw.isEmpty) mapper.createObjectNode() else mapper.readTree(raw)))
          } catch { case e: Throwable => (500, s"""{"error":${Json.str(String.valueOf(e))}}""") }
        val bytes = body.getBytes(StandardCharsets.UTF_8)
        ex.sendResponseHeaders(status, bytes.length)
        ex.getResponseBody.write(bytes)
        ex.close()
      })
    route("/chain/query")(req => chain.query(req.path("q").asText()))
    route("/chain/insert")(req => chain.insert(req))
    route("/trace/on")(_ => chain.traceOn())
    route("/trace/off")(_ => chain.traceOff())
    route("/trace/report")(req => chain.report(req.path("spans").asText()))
    route("/stats")(_ => chain.stats())
    route("/stop")(_ => { done.countDown(); "{}" })
    ctl.setExecutor(java.util.concurrent.Executors.newFixedThreadPool(4))
    ctl.start()
    println(s"READY $port ${ctl.getAddress.getPort} ${Jvm.uptimeMs}")
    done.await()
    api.stop()
    ctl.stop(0)
    spark.stop()
    sys.exit(0)
  }

  /** `events` in the metric's canonical columns: epoch-ms `timestamp`,
    * `value`, tags `event_type`/`user_id`, dimensions `event_id`/`props`. */
  def preload(spark: SparkSession, wh: Warehouse, c: Coords, path: String): Unit = {
    val ev = spark.read.parquet(path)
    val tsMs = ev.schema("ts").dataType match {
      case LongType => expr("ts div 1000000") // int64 epoch-nanos flavor
      case _        => unix_millis(col("ts").cast("timestamp"))
    }
    val df = ev.select(tsMs.as("timestamp"), col("value"), col("event_id"), col("props"),
      col("event_type"), col("user_id"))
    wh.append(c, df, tags = Set("event_type", "user_id")).left.foreach(e => sys.error(e))
  }

  /** in-process operations with spans, and the per-layer report. */
  final class Chain(spark: SparkSession, engine: GraftEngine, wh: Warehouse, hub: SubscriptionHub,
                    c: Coords, root: String) {
    private val sc    = spark.sparkContext
    private val seq   = new AtomicLong
    private val spans = new Spans
    private val jobs  = new JobTally
    private var probe: LiveSub = _
    // event_id → nanoTime of the publish call, for the probe's drain wait
    private val offered   = new ConcurrentHashMap[Long, java.lang.Long]()
    private val drainWait = new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Double]()
    private val rowsOut   = new AtomicLong
    private var files0, bytes0 = 0L

    private def grouped[A](group: String)(body: => A): A = {
      sc.setJobGroup(group, group)
      try body finally sc.clearJobGroup()
    }

    def query(q: String): String = {
      val t0 = System.nanoTime()
      val rows = grouped(s"q-${seq.incrementAndGet()}") {
        spans("chain.query") {
          implicit val tc: TimeContext = TimeContext(System.currentTimeMillis())
          val sel  = spans("sql.parse")(SqlParser.parse(Db, Ns, q)).fold(e => sys.error(e), identity)
            .asInstanceOf[Ast.SelectStatement]
          val ref  = spans("catalog.resolve")(wh.read(c)).fold(e => sys.error(e), identity)
          val plan = spans("plan.plan")(Planner.plan(sel, ref.schema)).fold(e => sys.error(e), identity)
          val df   = spans("exec.build")(Executor.execute(plan, ref, tc, engine.execConfig))
          spans("exec.run") {
            val it  = df.toJSON.toLocalIterator()
            val out = new java.io.ByteArrayOutputStream()
            var n   = 0
            while (it.hasNext && n < 10000) { out.write(it.next().getBytes(StandardCharsets.UTF_8)); n += 1 }
            n
          }
        }
      }
      rowsOut.addAndGet(rows)
      s"""{"chain_ms":${(System.nanoTime() - t0) / 1e6},"rows":$rows}"""
    }

    def insert(r: JsonNode): String = {
      val t0  = System.nanoTime()
      val id  = r.path("event_id").asLong()
      val ts  = r.path("timestamp").asLong()
      val v   = r.path("value").asDouble()
      val tags = Map[String, Any]("event_type" -> r.path("event_type").asText(), "user_id" -> r.path("user_id").asLong())
      val dims = Map[String, Any]("event_id" -> id)
      grouped(s"i-${seq.incrementAndGet()}") {
        spans("chain.insert") {
          implicit val tc: TimeContext = TimeContext(System.currentTimeMillis())
          spans("catalog.insert")(wh.insert(Ast.InsertStatement(Db, Ns, Metric, Some(ts), dims, tags, v)))
            .left.foreach(e => sys.error(e))
          offered.put(id, System.nanoTime())
          spans("hub.publish")(hub.publish(Map[String, Any]("timestamp" -> ts, "value" -> v) ++ dims ++ tags))
        }
      }
      s"""{"chain_ms":${(System.nanoTime() - t0) / 1e6}}"""
    }

    /** data files and bytes under the metric's data directory. */
    def dataFiles: (Long, Long) = {
      val dir = Paths.get(c.path(root), "data")
      if (!Files.exists(dir)) (0L, 0L)
      else {
        val w = Files.walk(dir)
        try {
          val fs = w.iterator.asScala.filter(p => Files.isRegularFile(p) && p.getFileName.toString.endsWith(".parquet")).toSeq
          (fs.size.toLong, fs.map(Files.size).sum)
        } finally w.close()
      }
    }

    def traceOn(): String = synchronized {
      if (probe == null) {
        val idRe = "\"event_id\":(\\d+)".r
        probe = LiveSub(None, new SseSubscriber(
          write = bytes => {
            val now = System.nanoTime()
            idRe.findAllMatchIn(new String(bytes, StandardCharsets.UTF_8)).foreach { m =>
              Option(offered.remove(m.group(1).toLong)).foreach(t0 => drainWait.add((now - t0) / 1e6))
            }
          },
          onDead = () => (), capacity = 100000, refreshMs = 100L))
        val (f, b) = dataFiles
        files0 = f; bytes0 = b
      }
      sc.addSparkListener(jobs)
      hub.add(probe)
      "{}"
    }

    def traceOff(): String = synchronized {
      Thread.sleep(200) // the probe's last drain
      hub.remove(probe)
      jobs.settled()
      sc.removeSparkListener(jobs)
      "{}"
    }

    def report(spanPath: String): String = synchronized {
      probe.sub.close()
      if (spanPath.nonEmpty) spans.dump(Paths.get(spanPath))
      val self = spans.selfMs
      def med(name: String): Double = Stats.median(self.getOrElse(name, Nil))
      val queries = self.getOrElse("chain.query", Nil).size.toDouble
      val inserts = self.getOrElse("chain.insert", Nil).size.toDouble
      def per(prefix: String, n: Double, f: Tally => Long): Double =
        if (n == 0) 0.0 else jobs.groups.collect { case (k, t) if k.startsWith(prefix) => f(t) }.sum / n
      val (f, b) = dataFiles
      Stats.json(Seq(
        "sql.parse_ms"        -> med("sql.parse"),
        "catalog.resolve_ms"  -> med("catalog.resolve"),
        "plan.plan_ms"        -> med("plan.plan"),
        "exec.build_ms"       -> med("exec.build"),
        "exec.run_ms"         -> med("exec.run"),
        "exec.jobs_per_query" -> per("q-", queries, _.jobs.sum()),
        "exec.tasks_per_query"-> per("q-", queries, _.tasks.sum()),
        "exec.records_read_per_row" ->
          per("q-", 1.0, _.recordsRead.sum()) / math.max(1L, rowsOut.get()).toDouble,
        "catalog.files"       -> f.toDouble,
        "catalog.insert_ms"   -> med("catalog.insert"),
        "catalog.jobs_per_insert" -> per("i-", inserts, _.jobs.sum()),
        "hub.publish_ms"      -> med("hub.publish"),
        "hub.drain_wait_ms"   -> Stats.median(drainWait.asScala.map(_.doubleValue).toSeq),
        "files_added"         -> (f - files0).toDouble,
        "bytes_added"         -> (b - bytes0).toDouble))
    }

    def stats(): String =
      Stats.json(Seq("jvm.gc_ms" -> Jvm.gcMs.toDouble, "jvm.jit_ms" -> Jvm.jitMs.toDouble,
        "peak_rss_mb" -> Jvm.peakRssMb))
  }
}
