package graftbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

import graft.SparkEntry
import graft.pipeline.Checkpoints

/**
 * The `pipeline` workload's engine process: a local[4] session over a
 * TESTDATA directory runs the `--gates` (`SparkEntry.queries` names) in
 * the order given, each to its full result (`write.format("noop")`, every
 * column).
 *
 * Set-up is one cold pass that writes every gate's result as parquet for
 * the DuckDB oracle check, then one untimed warm pass.
 * Timed passes follow for `--seconds`; each starts with
 * `SparkEntry.releaseShared`, so every pass rebuilds its shared relations.
 * With `--trace 1` some passes are traced: a span around each gate's build
 * and its noop write, and a [[JobTally]] keyed by the gate's job group.
 *
 * Prints one JSON object as its last stdout line.
 */
object Pipeline {

  final case class GateRun(gate: String, buildMs: Double, execMs: Double)

  def main(args: Array[String]): Unit = {
    val opt     = Args(args)
    val sfDir   = opt("sf")
    val out     = opt("out")
    val seconds = opt("seconds").toDouble
    val traced  = opt("trace") == "1"
    val gates   = opt("gates").split(",").toSeq
    val spark   = session()
    val sc      = spark.sparkContext

    def pass(spans: Option[Spans]): Seq[GateRun] = {
      SparkEntry.releaseShared(spark, sfDir)
      gates.map { g =>
        def timed[A](name: String)(body: => A): (A, Double) = {
          sc.setJobGroup(s"$name:$g", name)
          val t0 = System.nanoTime()
          try {
            val r = spans.fold(body)(sp => sp(s"gate.$g.$name")(body))
            (r, (System.nanoTime() - t0) / 1e6)
          } finally sc.clearJobGroup()
        }
        val (df, buildMs) = timed("build")(SparkEntry.queries(g)(spark, sfDir))
        val (_, execMs)   = timed("exec")(df.write.format("noop").mode("overwrite").save())
        Checkpoints.free(df)
        GateRun(g, buildMs, execMs)
      }
    }
    def passes(spans: Option[Spans], seconds: Double): Seq[Seq[GateRun]] = {
      val t0 = System.nanoTime()
      val b  = Seq.newBuilder[Seq[GateRun]]
      var n  = 0
      while (n == 0 || (System.nanoTime() - t0) / 1e9 < seconds) {
        val p = pass(spans)
        System.err.println(s"[pipeline] pass ${p.map(r => f"${r.gate}=${r.buildMs + r.execMs}%.0f").mkString(" ")}")
        b += p
        n += 1
      }
      b.result()
    }

    // ---- set-up: a cold pass dumped for the oracle check, then one warm pass
    val oracle = SparkEntry.oracleSqlFor(spark.read.parquet(s"$sfDir/embeddings.parquet").count())
    gates.foreach { g =>
      val df = SparkEntry.queries(g)(spark, sfDir)
      df.coalesce(1).write.mode("overwrite").parquet(s"$out/result/$g")
      Checkpoints.free(df)
    }
    Files.writeString(Paths.get(s"$out/oracle_sql.json"),
      gates.map(g => s"${Json.str(g)}:${Json.str(oracle(g))}").mkString("{", ",", "}"))
    pass(None)
    val setupS = Jvm.uptimeMs / 1e3

    // untraced for --seconds; with tracing, the slices untraced, traced, traced,
    // untraced of --seconds/2 each, so a still-warming JIT weighs on both sides alike
    val spans  = new Spans
    val jobs   = new JobTally
    val slices = (if (traced) Seq(false, true, true, false) else Seq(false)).map { t =>
      if (t) sc.addSparkListener(jobs)
      val ps = passes(if (t) Some(spans) else None, if (traced) seconds / 2 else seconds)
      if (t) { jobs.settled(); sc.removeSparkListener(jobs) }
      t -> ps
    }
    val plain        = slices.collect { case (false, ps) => ps }.flatten
    val tracedPasses = slices.collect { case (true, ps) => ps }.flatten
    def passMs(ps: Seq[Seq[GateRun]]): Seq[Double] = ps.map(_.map(r => r.buildMs + r.execMs).sum)
    val base = Seq(
      "setup_s"     -> setupS,
      "passes"      -> plain.size.toDouble,
      "gate_runs"   -> ((plain.size + tracedPasses.size) * gates.size).toDouble,
      "pass_p50_ms" -> Stats.median(passMs(plain)),
      "pass_p90_ms" -> Stats.quantile(passMs(plain), 0.9),
      "passes_per_s"-> plain.size / (passMs(plain).sum / 1e3))

    val layers =
      if (!traced) Nil
      else {
        spans.dump(Paths.get(s"$out/spans.jsonl"))
        val n = tracedPasses.size.toDouble
        def groupSum(prefix: String, f: Tally => Long): Double =
          jobs.groups.collect { case (k, t) if k.startsWith(prefix) => f(t) }.sum / n
        val all = tracedPasses.flatten
        Seq(
          "pipeline.build_s"      -> Stats.median(tracedPasses.map(_.map(_.buildMs).sum)) / 1e3,
          "pipeline.exec_s"       -> Stats.median(tracedPasses.map(_.map(_.execMs).sum)) / 1e3,
          "pipeline.eager_jobs"   -> groupSum("build:", _.jobs.sum()),
          "pipeline.exec_jobs"    -> groupSum("exec:", _.jobs.sum()),
          "pipeline.tasks"        -> groupSum("", _.tasks.sum()),
          "pipeline.shuffle_bytes"-> groupSum("", _.shuffleBytes.sum()),
          "pipeline.spill_bytes"  -> groupSum("", _.spillBytes.sum()),
          "trace.overhead_pct"    ->
            100.0 * (Stats.median(passMs(tracedPasses)) / Stats.median(passMs(plain)) - 1.0)
        ) ++ gates.flatMap { g =>
          val runs = all.filter(_.gate == g)
          Seq(s"gate.$g.build_s" -> Stats.median(runs.map(_.buildMs)) / 1e3,
              s"gate.$g.exec_s"  -> Stats.median(runs.map(_.execMs)) / 1e3)
        }
      }

    val jvm = Seq("jvm.gc_ms" -> Jvm.gcMs.toDouble, "jvm.jit_ms" -> Jvm.jitMs.toDouble,
      "peak_rss_mb" -> Jvm.peakRssMb)
    spark.stop()
    println(Stats.json(base ++ layers ++ jvm))
  }

  def session(): SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.files.maxPartitionBytes", "8m")
      .config("spark.sql.files.openCostInBytes", "1m")
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "4m")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
