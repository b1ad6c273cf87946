#!/usr/bin/env python3
"""graft's benchmark: the serving path and the training-data gates, end to end.

    python3 perfbench/run.py --workload <serve_read|serve_mixed|pipeline> \
        --seed <n> --seconds <s> --trace <0|1>

Run it from the root of the repository. It compiles graft's sources and the
benchmark's own Scala sources (perfbench/scala) with the Scala compiler
among the Spark jars that build.sbt compiles against, into .bench_build/
(reused while the sources are unchanged). It then starts the engine in a
JVM of its own, drives it for --seconds from this process, checks every
output it can against DuckDB, and prints one JSON object as the last line
of standard output:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones; with --trace 1 the run
measures untraced, traced, traced and untraced for --seconds/2 each and
reports the per-layer metrics and the tracing overhead. The lines before the JSON name
each workload's own metrics with their units. See perfbench/README.md.
"""
import argparse
import contextlib
import hashlib
import http.client
import json
import math
import os
import pickle
import random
import re
import shutil
import signal
import socket
import subprocess
import sys
import threading
import time
import urllib.parse
from pathlib import Path

import duckdb

ROOT = Path.cwd()
BENCH = Path(__file__).resolve().parent
BUILD = ROOT / ".bench_build"
DAY = 86_400_000
HOUR = 3_600_000
NPROC = 4
WARMUP_OPS = 10     # operations per serving client before the timed slices
RUN_LIMIT_S = 170
JVM_OPENS = [
    a for p in ("java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
                "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
                "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")
    for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
# the serving workloads' preload, and the pipeline's tables
SERVE_SF, PIPELINE_SF = "0.1", "0.01"
PIPELINE_GATES = ("tx_rep", "tx_quality", "qa_psi", "ts_theilsen", "ann_int8", "st_latesupp",
                  "mm_phash", "ev_gini", "d_minhash")

END_TO_END = (("setup_s", "s"), ("ops_per_s", "1/s"), ("p50_ms", "ms"), ("p90_ms", "ms"),
              ("peak_rss_mb", "MB"))
PER_LAYER = (
    ("sql.parse_ms", "ms"), ("catalog.resolve_ms", "ms"), ("catalog.files", "count"),
    ("plan.plan_ms", "ms"), ("exec.build_ms", "ms"), ("exec.run_ms", "ms"),
    ("exec.jobs_per_query", "count"), ("exec.tasks_per_query", "count"),
    ("exec.records_read_per_row", "ratio"), ("http.self_ms", "ms"),
    ("catalog.insert_ms", "ms"), ("catalog.jobs_per_insert", "count"),
    ("catalog.files_per_insert", "count"), ("catalog.disk_bytes_per_record", "bytes"),
    ("hub.publish_ms", "ms"), ("hub.drain_wait_ms", "ms"),
    ("pipeline.build_s", "s"), ("pipeline.eager_jobs", "count"), ("pipeline.exec_s", "s"),
    ("pipeline.exec_jobs", "count"), ("pipeline.tasks", "count"),
    ("pipeline.shuffle_bytes", "bytes"), ("pipeline.spill_bytes", "bytes"),
    *((f"gate.{g}.{part}", "s") for g in PIPELINE_GATES for part in ("build_s", "exec_s")),
    ("jvm.gc_ms", "ms"), ("jvm.jit_ms", "ms"), ("trace.overhead_pct", "%"))


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ---- inputs the repository provides ------------------------------------------------------

def spark_jars():
    """The Spark jar directory build.sbt compiles against (its unmanagedBase)."""
    sbt = ROOT / "build.sbt"
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text()) if sbt.exists() else None
    if not m:
        raise SystemExit("perfbench: build.sbt with an unmanagedBase is required; run from the repository root")
    return Path(m.group(1))


def testdata(sf):
    """The fixed TESTDATA table directory for scale factor `sf`, as TESTDATA.md lists it."""
    doc = ROOT / "TESTDATA.md"
    m = re.search(rf"\|\s*{re.escape(sf)}\s*\|\s*`([^`]+)`", doc.read_text()) if doc.exists() else None
    if not m or not Path(m.group(1)).is_dir():
        raise SystemExit(f"perfbench: TESTDATA.md names no readable sf{sf} directory")
    return Path(m.group(1))


def build():
    """Compile src/main/scala and perfbench/scala into .bench_build/classes."""
    jars = spark_jars()
    main = ROOT / "src" / "main" / "scala"
    if not main.is_dir():
        raise SystemExit("perfbench: src/main/scala is missing; run from the repository root")
    srcs = sorted(main.rglob("*.scala")) + sorted((BENCH / "scala").rglob("*.scala"))
    digest = hashlib.sha256()
    for s in srcs:
        digest.update(str(s.relative_to(ROOT)).encode() + b"\0" + s.read_bytes())
    classes, stamp = BUILD / "classes", BUILD / "classes.sha256"
    if stamp.exists() and stamp.read_text() == digest.hexdigest() and classes.is_dir():
        return jars, classes
    tmp = BUILD / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    compiler = [next(jars.glob(f"scala-{n}-2.13*.jar")) for n in ("compiler", "library", "reflect")]
    t0 = time.perf_counter()
    subprocess.run(
        ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", ":".join(map(str, compiler)),
         "scala.tools.nsc.Main",
         "-usejavacp:false", "-nowarn", "-classpath", f"{jars}/*", "-d", str(tmp), *map(str, srcs)],
        check=True, stdout=sys.stderr)
    shutil.rmtree(classes, ignore_errors=True)
    tmp.rename(classes)
    stamp.write_text(digest.hexdigest())
    log(f"built {len(srcs)} sources in {time.perf_counter() - t0:.1f} s")
    return jars, classes


class Jvm:
    """One engine process; its stderr goes to a log file in the run directory."""

    def __init__(self, jars, classes, rundir, main, args, heap):
        (rundir / "tmp").mkdir(parents=True, exist_ok=True)
        self.log = open(rundir / f"{main}.log", "w")
        self.proc = subprocess.Popen(
            ["java", *JVM_OPENS, "-XX:-UsePerfData", f"-Xms{heap}", f"-Xmx{heap}", "-XX:+AlwaysPreTouch",
             "-XX:ReservedCodeCacheSize=512m",
             f"-Djava.io.tmpdir={rundir / 'tmp'}", "-cp", f"{classes}:{jars}/*", main, *args],
            stdout=subprocess.PIPE, stderr=self.log, text=True, cwd=rundir)

    def stop(self, timeout=60):
        try:
            self.proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            self.proc.kill()
            self.proc.wait()
        self.log.close()


# ---- statistics --------------------------------------------------------------------------

def quantile(xs, q):
    """Linear-interpolated quantile, as the engine side computes it."""
    if not xs:
        return 0.0
    s = sorted(xs)
    pos = q * (len(s) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def near(a, b, rel=1e-7):
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is None and b is None
        if math.isnan(float(a)) and math.isnan(float(b)):
            return True
        return abs(float(a) - float(b)) <= rel * max(1.0, abs(float(a)), abs(float(b)))
    return a == b or str(a) == str(b)


def same_rows(got_cols, got_rows, exp_cols, exp_rows):
    """Order-insensitive comparison of two row sets with float tolerance."""
    if sorted(got_cols) != sorted(exp_cols) or len(got_rows) != len(exp_rows):
        return False
    def canon(cols, rows):
        order = sorted(range(len(cols)), key=lambda i: cols[i])
        return sorted((tuple(r[i] for i in order) for r in rows),
                      key=lambda t: tuple((x is None, str(x)) for x in t))
    return all(near(a, b) for g, e in zip(canon(got_cols, got_rows), canon(exp_cols, exp_rows))
               for a, b in zip(g, e))


# ---- the serving workloads ---------------------------------------------------------------

class Events:
    """The preloaded `events` table in DuckDB, in the metric's canonical columns."""

    def __init__(self, path):
        self.path = path
        self.db = duckdb.connect()
        kind = self.db.execute(f"SELECT typeof(ts) FROM read_parquet('{path}') LIMIT 1").fetchone()[0]
        ts_ms = "ts // 1000000" if kind == "BIGINT" else "epoch_ns(ts) // 1000000"
        self.db.execute(f"""CREATE TABLE ev AS SELECT {ts_ms} AS "timestamp", value, event_id, props,
                            event_type, user_id FROM read_parquet('{path}')""")
        self.rows, self.lo, self.hi = self.db.execute(
            'SELECT count(*), min("timestamp"), max("timestamp") FROM ev').fetchone()
        self.types = [r[0] for r in self.db.execute("SELECT DISTINCT event_type FROM ev ORDER BY 1").fetchall()]

    def answer(self, sql):
        cur = self.db.execute(sql)
        return [d[0] for d in cur.description], cur.fetchall()


# aggregate, as written in both dialects -> graft's name for its global result
AGGS = {"count(*)": "count", "sum(value)": "sum", "avg(value)": "avg", "min(value)": "min",
        "max(value)": "max"}
SHAPES = ("select", "distinct", "global", "tag", "interval")


def make_query(rng, ev, k):
    """The k-th query of a client: NSDb dialect, with its DuckDB oracle.

    k fixes the query's structure (plan shape, range length, result width), so
    every seed runs the same mix; the seed picks the range's position, the
    thresholds and the aggregate."""
    shape, j = SHAPES[k % len(SHAPES)], k // len(SHAPES)
    span = (1, 2, 3, 5, 7)[j % 5] * DAY
    wide = (j // 5) % 2 == 1  # a wide result: per-user rows instead of per-type ones
    lo = rng.randrange(ev.lo, ev.hi - span)
    hi = lo + span
    rng_where = f"timestamp in ({lo}, {hi})"
    ev_where = f'"timestamp" BETWEEN {lo} AND {hi}'
    v = round(rng.uniform(0, 300), 2)
    agg = rng.choice(tuple(AGGS))
    tag = "user_id" if wide else "event_type"
    if shape == "select":
        n = 100 if wide else 10
        return (f"select * from events where {rng_where} and value > {v} order by event_id limit {n}",
                f'SELECT * FROM ev WHERE {ev_where} AND value > {v} ORDER BY event_id LIMIT {n}')
    if shape == "distinct":
        return (f"select distinct {tag} from events where {rng_where} and value > {v}",
                f"SELECT DISTINCT {tag} FROM ev WHERE {ev_where} AND value > {v}")
    if shape == "global":
        t = rng.choice(ev.types)
        return (f"select {agg} from events where {rng_where} and event_type = {t}",
                f"SELECT {agg} AS \"{AGGS[agg]}\" FROM ev WHERE {ev_where} AND event_type = '{t}'")
    if shape == "tag":
        return (f"select {agg} from events where {rng_where} group by {tag}",
                f'SELECT {tag}, {agg} AS "value" FROM ev WHERE {ev_where} GROUP BY {tag}')
    # group by interval: buckets anchored at the upper bound, generated backwards; the
    # oldest bucket absorbs the remainder and is closed on both ends
    n_unit, unit, size = (1, "h", HOUR) if wide else (6, "h", 6 * HOUR)
    n_buckets = max(1, (hi - lo + size - 1) // size)
    return (f"select {agg} from events where {rng_where} group by interval {n_unit} {unit}",
            f"""WITH b AS (SELECT {hi} - least(({hi} - "timestamp") // {size}, {n_buckets - 1}) * {size} AS ub,
                       value FROM ev WHERE {ev_where})
                SELECT ub AS "timestamp", greatest({lo}, ub - {size}) AS "lowerBound", ub AS "upperBound",
                       {agg} AS "value" FROM b GROUP BY ub""")


class Client:
    """One keep-alive HTTP connection to the server, for one closed-loop client thread."""

    def __init__(self, port):
        self.port = port
        self.conn = http.client.HTTPConnection("127.0.0.1", port, timeout=120)

    def post(self, path, body):
        """(status, body bytes, latency ms) from request sent to last byte received."""
        data = json.dumps(body)
        t0 = time.perf_counter()
        try:
            self.conn.request("POST", path, data, {"Content-Type": "application/json"})
            resp = self.conn.getresponse()
            payload = resp.read()
            status = resp.status
        except (OSError, http.client.HTTPException) as e:
            self.conn.close()
            self.conn = http.client.HTTPConnection("127.0.0.1", self.port, timeout=120)
            status, payload = 0, str(e).encode()
        return status, payload, (time.perf_counter() - t0) * 1e3


def control(port, path, body=None):
    """(status, reply) of one call on the server's control port, on a connection of its own."""
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=120)
    try:
        conn.request("GET" if body is None else "POST", path, json.dumps(body or {}))
        resp = conn.getresponse()
        return resp.status, json.loads(resp.read())
    finally:
        conn.close()


def command(port, path, body=None):
    """A control call that must succeed."""
    status, reply = control(port, path, body)
    if status != 200:
        raise RuntimeError(f"control {path}: {status} {reply}")
    return reply


class Subscriber(threading.Thread):
    """SSE subscriber on every record written after `since`: event_id -> receive time."""

    def __init__(self, port, since):
        super().__init__(daemon=True)
        q = urllib.parse.quote(f"select * from events where timestamp >= {since}")
        self.conn = http.client.HTTPConnection("127.0.0.1", port, timeout=None)
        self.conn.request("GET", f"/subscribe?db=graft&namespace=main&q={q}")
        self.resp = self.conn.getresponse()
        if self.resp.status != 200:
            raise RuntimeError(f"subscribe: {self.resp.status}")
        self.received = {}
        self.historical = threading.Event()

    def run(self):
        try:
            while True:
                line = self.resp.readline()
                if not line:
                    return
                if not line.startswith(b"data: "):
                    continue
                now = time.perf_counter()
                ev = json.loads(line[6:])
                if "historical" in ev:
                    self.historical.set()
                elif "event_id" in ev:
                    self.received.setdefault(ev["event_id"], now)
        except (OSError, ValueError, AttributeError, http.client.HTTPException):
            return  # the stream was shut down by close()

    def close(self):
        try:
            self.conn.sock.shutdown(socket.SHUT_RDWR)
        except OSError:
            pass
        self.join(10)
        self.conn.close()


class Turns:
    """A FIFO mutex: clients that wait for it get it in the order they asked."""

    def __init__(self):
        self.cv = threading.Condition()
        self.issued = self.serving = 0

    def __enter__(self):
        with self.cv:
            ticket, self.issued = self.issued, self.issued + 1
            self.cv.wait_for(lambda: self.serving == ticket)

    def __exit__(self, *_):
        with self.cv:
            self.serving += 1
            self.cv.notify_all()


class ServeRun:
    """Closed-loop clients against one server, and every sample they took.

    A run is a warm-up (slice -1) and then timed slices: one untraced slice
    of --seconds, or with --trace 1 the slices untraced, traced, traced,
    untraced of --seconds/2 each, so that the warm-up's still falling
    latency weighs on both sides of the tracing overhead alike.

    With writers, the clients take turns: one operation on the metric is in
    flight at a time. graft rewrites a metric's meta.json in place on every
    write while reads parse it without the metric's lock, so a read that
    overlaps a write can fail with "metric events does not exist" (about 1
    read in 300). Those failures come and go with the timing, and a
    benchmark's runs must agree on what failed, so reads and writes of the
    metric do not overlap until graft fixes the race."""

    def __init__(self, args, ev, http_port, ctl_port, mixed):
        self.args, self.ev = args, ev
        self.turn = Turns() if mixed else contextlib.nullcontext()
        self.http_port, self.ctl_port = http_port, ctl_port
        # written records sit after the preload, in shards no read range touches
        self.write_base = (ev.hi // DAY + 1) * DAY
        self.next_id = iter(range(10**9, 2 * 10**9))
        self.lock = threading.Lock()
        self.queries = []   # (query, oracle, status, body, ms, slice)
        self.inserts = []   # (event_id, status, sent perf time, ms, slice)
        self.chain = []     # (http status, http ms, chain status, chain ms)
        self.chain_acked = []

    def record_for(self, rng):
        with self.lock:
            eid = next(self.next_id)
        return {"event_id": eid, "timestamp": self.write_base + (eid - 10**9),
                "value": round(rng.uniform(0, 500), 2) + 0.005,
                "event_type": rng.choice(self.ev.types), "user_id": rng.randrange(1, 1500)}

    def paired(self, path, body, status, ms):
        """With tracing: the same operation once more, in-process through the layers."""
        c_status, c = control(self.ctl_port, path, body)
        with self.lock:
            self.chain.append((status, ms, c_status, c.get("chain_ms")))
        return c_status == 200

    def reader(self, i, sl, until, traced):
        rng = random.Random(f"{self.args.seed}/r{i}/{sl}")
        cli = Client(self.http_port)
        k = i * 7  # clients start at different points of the mix
        while until(k - i * 7):
            q, oracle = make_query(rng, self.ev, k)
            with self.turn:
                status, body, ms = cli.post("/query", {"db": "graft", "namespace": "main", "queryString": q})
                if traced:
                    self.paired("/chain/query", {"q": q}, status, ms)
            with self.lock:
                self.queries.append((q, oracle, status, body, ms, sl))
            k += 1
        cli.conn.close()

    def writer(self, i, sl, until, traced):
        rng = random.Random(f"{self.args.seed}/w{i}/{sl}")
        cli = Client(self.http_port)
        done = 0
        while until(done):
            r = self.record_for(rng)
            bit = {"timestamp": r["timestamp"], "value": r["value"],
                   "dimensions": {"event_id": r["event_id"]},
                   "tags": {"event_type": r["event_type"], "user_id": r["user_id"]}}
            r2 = self.record_for(rng) if traced else None
            with self.turn:
                sent = time.perf_counter()
                status, _, ms = cli.post("/data", {"db": "graft", "namespace": "main", "metric": "events",
                                                   "bit": bit})
                paired_ok = traced and self.paired("/chain/insert", r2, status, ms)
            with self.lock:
                self.inserts.append((r["event_id"], status, sent, ms, sl))
                if paired_ok:
                    self.chain_acked.append(r2["event_id"])
            done += 1
        cli.conn.close()

    def slice(self, sl, readers, writers, until, traced=False):
        threads = [threading.Thread(target=self.reader, args=(i, sl, until, traced)) for i in range(readers)]
        threads += [threading.Thread(target=self.writer, args=(i, sl, until, traced)) for i in range(writers)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()



def serve(args, jars, classes, rundir, mixed):
    ev = Events(testdata(SERVE_SF) / "events.parquet")
    readers, writers = (1, 2) if mixed else (NPROC, 0)
    traced_slices = (False, True, True, False) if args.trace else (False,)
    slice_s = args.seconds / 2 if args.trace else args.seconds
    t_launch = time.perf_counter()
    jvm = Jvm(jars, classes, rundir, "graftbench.Serve",
              ["--warehouse", str(rundir / "warehouse"), "--events", ev.path.as_posix()], "2g")
    sub = ready = None
    try:
        ready = jvm.proc.stdout.readline().split()
        if not ready or ready[0] != "READY":
            raise SystemExit(f"perfbench: server did not start (see {rundir}/graftbench.Serve.log)")
        run = ServeRun(args, ev, int(ready[1]), int(ready[2]), mixed)
        if mixed:
            sub = Subscriber(run.http_port, run.write_base)
            sub.start()
            if not sub.historical.wait(60):
                raise SystemExit("perfbench: subscription did not open")
            time.sleep(0.5)  # the live registration follows the historical event
        # warm-up: a fixed number of operations per client
        run.slice(-1, readers, writers, lambda done: done < WARMUP_OPS)
        setup_s = time.perf_counter() - t_launch
        untraced_s = 0.0
        for sl, traced in enumerate(traced_slices):
            if traced:
                command(run.ctl_port, "/trace/on", {})
            start = time.perf_counter()
            run.slice(sl, readers, writers, lambda _: time.perf_counter() < start + slice_s, traced)
            if traced:
                command(run.ctl_port, "/trace/off", {})
            else:
                untraced_s += time.perf_counter() - start
        layer = command(run.ctl_port, "/trace/report", {"spans": str(rundir / "spans.jsonl")}) \
            if args.trace else {}
        # read-your-writes: every acknowledged insert is counted by the metric
        count_status, count_body, _ = Client(run.http_port).post(
            "/query", {"db": "graft", "namespace": "main", "queryString": "select count(*) from events"})
        stats = command(run.ctl_port, "/stats")
    finally:
        if sub is not None:
            sub.close()
        try:
            control(int(ready[2]), "/stop", {})
        except (TypeError, IndexError, OSError, http.client.HTTPException):
            jvm.proc.kill()  # it never got ready, or is gone already
        jvm.stop()

    checks = []
    # every successful reply equals DuckDB's answer over the same input
    answers = {}
    for q, oracle, status, body, _, _ in run.queries:
        if status != 200:
            continue
        recs = json.loads(body)["records"]
        if oracle not in answers:
            answers[oracle] = ev.answer(oracle)
        cols, rows = answers[oracle]
        if any(sorted(r) != sorted(cols) for r in recs) or \
                not same_rows(cols, [tuple(r[c] for c in cols) for r in recs], cols, rows):
            checks.append(f"wrong answer to [{q}]: {body[:200]!r} vs {rows[:3]}")
    acked = [e for e, s, *_ in run.inserts if s == 200] + run.chain_acked
    if mixed:
        want = ev.rows + len(acked)
        got = json.loads(count_body)["records"][0]["count"] if count_status == 200 else None
        if got != want:
            checks.append(f"count after the run is {got}, preload + acknowledged inserts is {want}")
        deadline = time.perf_counter() + 10
        while time.perf_counter() < deadline and any(e not in sub.received for e in acked):
            time.sleep(0.1)
        missing = [e for e in acked if e not in sub.received]
        if missing:
            checks.append(f"{len(missing)} acknowledged records never reached the subscriber")
    for c in checks[:5]:
        log(f"CHECK FAILED: {c}")

    def ok_ms(samples, want_traced):
        return [ms for status, ms, sl in samples
                if sl >= 0 and status == 200 and traced_slices[sl] == want_traced]
    queries = [(status, ms, sl) for *_, status, _, ms, sl in run.queries]
    inserts = [(status, ms, sl) for _, status, _, ms, sl in run.inserts]
    q_ms, i_ms = ok_ms(queries, False), ok_ms(inserts, False)
    deliver = [(sub.received[e] - sent) * 1e3 for e, status, sent, _, sl in run.inserts
               if sl >= 0 and not traced_slices[sl] and status == 200 and e in sub.received] if mixed else []
    timed = [status for status, _, sl in queries + inserts if sl >= 0] + \
        [c_status for _, _, c_status, _ in run.chain]
    attempted, failed = len(timed), sum(1 for s in timed if s != 200)
    ops = q_ms + i_ms
    own = {"query_per_s": (len(q_ms) / untraced_s, "1/s"), "query_p50_ms": (quantile(q_ms, 0.5), "ms"),
           "query_p95_ms": (quantile(q_ms, 0.95), "ms")}
    if mixed:
        own.update({"insert_per_s": (len(i_ms) / untraced_s, "1/s"),
                    "insert_p50_ms": (quantile(i_ms, 0.5), "ms"), "insert_p95_ms": (quantile(i_ms, 0.95), "ms"),
                    "deliver_p50_ms": (quantile(deliver, 0.5), "ms"),
                    "deliver_p95_ms": (quantile(deliver, 0.95), "ms")})
    own.update({"fail_ratio": (failed / attempted, "ratio"), "setup_s": (setup_s, "s"),
                "peak_rss_mb": (stats["peak_rss_mb"], "MB"), "samples": (len(ops), "count")})
    e2e = {"setup_s": setup_s, "ops_per_s": len(ops) / untraced_s, "p50_ms": quantile(ops, 0.5),
           "p90_ms": quantile(ops, 0.9), "peak_rss_mb": stats["peak_rss_mb"]}
    per_layer = {}
    if args.trace:
        # inserts since tracing first started, for the per-insert file and byte counts
        inserts_since = len(run.chain_acked) + sum(1 for s, _, sl in inserts if sl >= 1 and s == 200)
        traced_ops = ok_ms(queries, True) + ok_ms(inserts, True)
        per_layer = dict(layer)
        per_layer.update({
            "http.self_ms": quantile([h - c for hs, h, cs, c in run.chain if hs == cs == 200], 0.5),
            "catalog.files_per_insert": layer["files_added"] / max(1, inserts_since),
            "catalog.disk_bytes_per_record": layer["bytes_added"] / max(1, inserts_since),
            "jvm.gc_ms": stats["jvm.gc_ms"], "jvm.jit_ms": stats["jvm.jit_ms"],
            "trace.overhead_pct": 100.0 * (quantile(traced_ops, 0.5) / quantile(ops, 0.5) - 1.0)})
    return not checks, attempted, failed, own, e2e, per_layer


# ---- the pipeline workload ---------------------------------------------------------------

def pipeline(args, jars, classes, rundir):
    sf = testdata(PIPELINE_SF)
    jvm = Jvm(jars, classes, rundir, "graftbench.Pipeline",
              ["--sf", str(sf), "--gates", ",".join(PIPELINE_GATES), "--out", str(rundir),
               "--seconds", str(args.seconds),
               "--trace", str(args.trace)], "2g")
    try:
        lines = jvm.proc.stdout.read().strip().splitlines()
    except BaseException:
        jvm.proc.kill()
        raise
    finally:
        jvm.stop()
    if jvm.proc.returncode != 0 or not lines:
        raise SystemExit(f"perfbench: pipeline engine failed (see {rundir}/graftbench.Pipeline.log)")
    res = json.loads(lines[-1])
    t0 = time.perf_counter()

    # each gate's dumped result equals its DuckDB oracle over the same tables. The tables
    # are fixed, so an oracle answer is computed once per checkout and kept in .bench_build
    checks = []
    oracle = json.loads((rundir / "oracle_sql.json").read_text())
    tables = sorted(sf.glob("*.parquet"))
    fingerprint = "".join(f"{t.name}:{t.stat().st_size}:{t.stat().st_mtime_ns};" for t in tables)
    con = duckdb.connect()
    for t in tables:
        con.execute(f"CREATE VIEW {t.stem} AS SELECT * FROM read_parquet('{t}')")
    for gate in PIPELINE_GATES:
        got = con.execute(f"SELECT * FROM read_parquet('{rundir}/result/{gate}/*.parquet')")
        got_cols, got_rows = [d[0] for d in got.description], got.fetchall()
        cached = BUILD / "oracle" / hashlib.sha256((fingerprint + oracle[gate]).encode()).hexdigest()
        if cached.exists():
            exp_cols, exp_rows = pickle.loads(cached.read_bytes())
        else:
            exp = con.execute(oracle[gate])
            exp_cols, exp_rows = [d[0] for d in exp.description], exp.fetchall()
            cached.parent.mkdir(exist_ok=True)
            cached.write_bytes(pickle.dumps((exp_cols, exp_rows)))
        if not same_rows(got_cols, got_rows, exp_cols, exp_rows):
            checks.append(f"{gate}: {len(got_rows)} rows {got_cols} differ from the oracle's "
                          f"{len(exp_rows)} rows {exp_cols}")
    for c in checks:
        log(f"CHECK FAILED: {c}")
    log(f"oracle check of {len(PIPELINE_GATES)} gates took {time.perf_counter() - t0:.1f} s")
    own = {"pipeline_s": (res["pass_p50_ms"] / 1e3, "s"), "passes": (res["passes"], "count"),
           "fail_ratio": (0.0, "ratio"), "setup_s": (res["setup_s"], "s"),
           "peak_rss_mb": (res["peak_rss_mb"], "MB")}
    e2e = {"setup_s": res["setup_s"], "ops_per_s": res["passes_per_s"], "p50_ms": res["pass_p50_ms"],
           "p90_ms": res["pass_p90_ms"], "peak_rss_mb": res["peak_rss_mb"]}
    return not checks, int(res["gate_runs"]), 0, own, e2e, res


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=("serve_read", "serve_mixed", "pipeline"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    jars, classes = build()

    # a run ends within RUN_LIMIT_S of being built, hung engine or not: the exception
    # unwinds through the finally blocks that stop the engine JVM
    def overtime(*_):
        raise TimeoutError(f"perfbench: run exceeded {RUN_LIMIT_S} s")
    signal.signal(signal.SIGALRM, overtime)
    signal.alarm(RUN_LIMIT_S)
    rundir = BUILD / f"run-{args.workload}-{os.getpid()}"
    shutil.rmtree(rundir, ignore_errors=True)
    rundir.mkdir(parents=True)
    try:
        if args.workload == "pipeline":
            ok, attempted, failed, own, e2e, per_layer = pipeline(args, jars, classes, rundir)
        else:
            ok, attempted, failed, own, e2e, per_layer = serve(
                args, jars, classes, rundir, mixed=args.workload == "serve_mixed")
    except BaseException:
        log(f"run directory kept for inspection: {rundir}")
        raise
    for name, (value, unit) in own.items():
        print(f"{args.workload} {name} {value:.6g} {unit}")
    if args.trace:
        metrics = {n: {"value": float(per_layer.get(n, 0.0)), "unit": u} for n, u in PER_LAYER}
    else:
        metrics = {n: {"value": float(e2e[n]), "unit": u} for n, u in END_TO_END}
    shutil.rmtree(rundir, ignore_errors=True)
    print(json.dumps({"correct": ok, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
