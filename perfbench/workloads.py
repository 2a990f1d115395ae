"""The workloads: `suite` and `ingest`, which BENCHMARK.json declares, and
`serve`, which runs the same way but is not declared: its ten-seed spreads
were too close to the bounds on a shared 4-core host (see CHANGES.md).

serve  - the broker path. One engine process serves `POST /query/sql` over
         generated tables; this process is the load generator. Phase A is an
         open loop at SERVE_RATE requests/s, each request timed from when it
         was due; phase B is a closed loop with one client per core. About
         70% of requests are a fixed set of dashboard SQL texts, the rest are
         the same shapes with seeded literals, so every such text is unique:
         a plan cache would gain on the first share and must not cost the
         second.
suite  - the declared queries (SUITE_QUERIES, a fixed stride through the
         names), one at a time, each consumed through its full physical plan,
         in an untimed warm-up pass and then repeated timed passes; fixed
         per-query cost and the heavy kernels dominate, no server work.
ingest - writes beside reads: JSON-lines event files published at a constant
         rate into the realtime table's source while a poller queries the
         table over HTTP; then a fixed backlog is published at once and
         drained. Exercises graft.streaming and the sealed parquet sink.

Every run reports the same four end-to-end metrics (E2E), each measured on
the workload's own foreground work:

  metric            serve                     suite                 ingest
  setup_s           median of SETUPS set-ups, each from launch (or the last
                    teardown) to ready: session, views, functions, warm-up,
                    derived artifacts (suite), HTTP server, stream start
  latency_p50_ms    phase A request latency,  per-query time in     event freshness:
  latency_tail_ms   timed from its due time   the timed passes      publish to the sink
                                                                    commit that makes
                                                                    it visible
  throughput_per_s  phase B answers/s         queries/s of the      backlog rows/s
                                              timed passes

latency_tail_ms is the TAIL_PCT percentile of the same samples: at
--seconds 40 a run has at least 36 of them, so at least ten lie beyond it,
and a burst of host load moves it less than a higher percentile would. The highest percentile
with at least ten samples beyond it is printed as `*_tail_ms` (its level as
`*_tail_pct`). A failed operation counts as attempted and
failed and ranks above every latency. Further figures (phase B latency, poll
read latency, freshness as the poller saw it, suite total, generator
lateness, backlog, failed share) are printed as records.
"""
import bisect
import datetime as dt
import decimal
import http.client
import json
import os
import sys
import queue
import random
import statistics
import threading
import time
from dataclasses import dataclass, field
from pathlib import Path

import datagen
import stats

TAIL_PCT = 70

E2E = [("setup_s", "s"), ("latency_p50_ms", "ms"), ("latency_tail_ms", "ms"),
       ("throughput_per_s", "1/s")]

# Per-layer metrics of a traced run (per foreground operation unless a
# count or peak), and the end-to-end figure each should move:
#   server.*  HttpSqlEndpoint incl. rewriteBroker: serve latency, throughput
#   plan.*    Catalyst phases, graft.plans rules: serve latency/throughput,
#             suite p50, ingest freshness
#   build.*   graft.queries construction incl. eager jobs: suite p50/throughput
#   sched.*   DAG/task scheduling (delay rises with concurrency): suite p50,
#             serve tail
#   exec.*    graft.ops / graft.expressions: suite throughput and tail;
#             exec.gc_ms -> serve tail
#   scan.*    graft.sources: suite throughput; scan.files -> ingest tail
#   shuffle.*, spill.bytes: suite throughput and tail
#   result.*  serialisation of results: serve latency
#   cache.*, setup.artifacts_s: suite throughput and setup_s
#   stream.*  graft.streaming.EventIngest triggers: ingest freshness, drain
#   sink.*    sealed parquet store: ingest tail
# No layer metric has a bound; a figure a workload does not exercise is 0.
LAYERS = [
    ("server.overhead_ms", "ms"), ("server.resp_bytes", "bytes"),
    ("plan.parse_ms", "ms"), ("plan.analysis_ms", "ms"),
    ("plan.optimization_ms", "ms"), ("plan.planning_ms", "ms"),
    ("build.ms", "ms"), ("build.jobs", "count"),
    ("sched.jobs", "count"), ("sched.stages", "count"), ("sched.tasks", "count"),
    ("sched.delay_ms", "ms"), ("sched.task_failures", "count"),
    ("exec.run_ms", "ms"), ("exec.cpu_ms", "ms"), ("exec.gc_ms", "ms"),
    ("exec.peak_mem_bytes", "bytes"),
    ("scan.bytes", "bytes"), ("scan.rows", "count"), ("scan.files", "count"),
    ("shuffle.write_bytes", "bytes"), ("shuffle.read_bytes", "bytes"),
    ("shuffle.fetch_wait_ms", "ms"), ("spill.bytes", "bytes"),
    ("result.bytes", "bytes"), ("result.ser_ms", "ms"),
    ("cache.storage_peak_bytes", "bytes"), ("setup.artifacts_s", "s"),
    ("stream.batches", "count"), ("stream.rows_per_batch", "count"),
    ("stream.trigger_ms", "ms"), ("stream.latest_offset_ms", "ms"),
    ("stream.get_batch_ms", "ms"), ("stream.query_planning_ms", "ms"),
    ("stream.add_batch_ms", "ms"), ("stream.wal_commit_ms", "ms"),
    ("stream.backlog_files", "count"),
    ("sink.files", "count"), ("sink.bytes_per_row", "bytes"),
]

SETUPS = 3                 # set-ups per run; setup_s is their median
REQUEST_TIMEOUT_S = 30.0

SERVE_SF = 0.01
SERVE_RATE = 10.0          # phase A requests/s: about half the seed commit's capacity
SERVE_ADHOC_PER_BLOCK = 3  # beside the 7 dashboard texts: 70% of requests repeat
ADHOC_SHAPES = 5
SERVE_PHASE_A_SHARE = 0.75  # of --seconds; phase B gets the rest

SUITE_SF = 0.01
# every eighteenth declared query in name order from the tenth (12 of the 209
# at the commit that defined the benchmark); a fixed list, so totals stay
# comparable when queries are added
SUITE_QUERIES = (
    "q_agg_grouping_sets", "q_dedup_incremental", "q_events_by_day",
    "q_events_transitions", "q_idx_prune_zorder", "q_mm_features", "q_scalar_array",
    "q_scalar_url", "q_sketch_hll", "q_sql_lateral", "q_text_quality", "q_win_running",
)
# SUITE_QUERIES that must succeed but whose digest is not compared with
# DuckDB (each later pass must still repeat the first pass's digest): the
# oracle of q_dedup_incremental takes 10-18 s at SUITE_SF, beyond a run's
# time budget
SUITE_ORACLE_SKIP = ("q_dedup_incremental",)
# the SUITE_QUERIES whose construction builds a derived artifact
# (Fingerprint.buildOnce); set-up constructs them so the build counts there
SUITE_ARTIFACT_QUERIES = ("q_dedup_incremental", "q_idx_prune_zorder")
# after an untimed warm-up pass, one timed pass over SUITE_QUERIES per
# SUITE_SECONDS_PER_PASS of --seconds, and at least SUITE_MIN_TIMED_PASSES
# (36 executions); the figures pool every timed execution. The count follows
# from --seconds alone, never from how fast the passes go: each pass runs a
# little faster than the one before as the JIT warms, so a count that grew
# with speed would move the pooled figures
SUITE_SECONDS_PER_PASS = 10
SUITE_MIN_TIMED_PASSES = 3

INGEST_RATE = 2000         # events/s, the reference's 2-shard Kinesis capacity
# one file every 500 ms: a micro-batch takes about half that on 4 cores, so
# the stream keeps up with room to spare; at one file every 250 ms it ran at
# capacity and freshness swung with the host's speed
INGEST_FILE_EVENTS = 1000
INGEST_WARMUP_EVENTS = 200
INGEST_BACKLOG_FILES = 200
INGEST_BACKLOG_FILE_EVENTS = 1000
INGEST_POLL_S = 0.25
# the constant-rate phase: a ramp of INGEST_RAMP_SHARE of --seconds, while
# the JIT warms up, then INGEST_CONSTANT_SHARE of --seconds whose files and
# polls are scored; the backlog drain follows
INGEST_RAMP_SHARE = 0.15
INGEST_CONSTANT_SHARE = 0.65

# a generator whose sends run this late, as a share of its sending period,
# has fallen behind: the run is invalid
LATE_P99_SHARE = 0.5
LATE_MAX_SHARE = 2.0


_T0 = time.perf_counter()


def progress(msg: str):
    """A timestamped progress line on stderr."""
    print(f"perfbench: [{time.perf_counter() - _T0:7.2f}s] {msg}", file=sys.stderr, flush=True)


class InvalidRun(Exception):
    """The load generator could not keep its schedule; nothing is scored."""


@dataclass
class Context:
    root: Path
    run_dir: Path
    seed: int
    seconds: float
    trace: bool
    cores: int

    @property
    def data_dir(self) -> Path:
        return self.run_dir / "data"


@dataclass
class Result:
    correct: bool = True
    attempted: int = 0
    failed: int = 0
    e2e: dict = field(default_factory=dict)      # name -> value
    layers: dict = field(default_factory=dict)   # name -> value
    records: list = field(default_factory=list)

    def record(self, name, unit, value, n):
        v = value
        if isinstance(value, float):
            v = round(value, 6) if value == value and abs(value) != float("inf") else None
        self.records.append(json.dumps({"name": name, "unit": unit, "value": v, "n": n},
                                       separators=(",", ":")))

    def metrics_for(self, key):
        table = LAYERS if key == "per_layer" else E2E
        src = self.layers if key == "per_layer" else self.e2e
        return {name: {"value": finite(src.get(name, 0.0)), "unit": unit}
                for name, unit in table}


def finite(v):
    """Metric values are JSON numbers; a failure-dominated percentile (inf)
    is reported as a value above every latency limit."""
    if v is None or v != v:
        return 0.0
    return 1e12 if v == float("inf") else float(v)


# ---------------------------------------------------------------- helpers

class Client:
    """One persistent HTTP connection to the broker endpoint."""

    def __init__(self, port: int):
        self.port = port
        self.conn = None

    def post(self, sql: str, options: str = None):
        body = {"sql": sql}
        if options:
            body["queryOptions"] = options
        payload = json.dumps(body)
        try:
            if self.conn is None:
                self.conn = http.client.HTTPConnection("localhost", self.port,
                                                       timeout=REQUEST_TIMEOUT_S)
            self.conn.request("POST", "/query/sql", payload,
                              {"Content-Type": "application/json"})
            resp = self.conn.getresponse()
            return resp.status, resp.read()
        except (OSError, http.client.HTTPException) as e:
            if self.conn is not None:
                self.conn.close()
            self.conn = None
            return None, str(e).encode()

    def close(self):
        if self.conn is not None:
            self.conn.close()


def parse_answer(status, body):
    """(error or None, parsed response) for one broker reply; a non-200
    status, an unparseable body or a non-empty `exceptions` is an error."""
    if status != 200:
        return f"status {status}: {body[:200]!r}", None
    try:
        doc = json.loads(body)
    except ValueError:
        return "unparseable body", None
    if doc.get("exceptions"):
        return f"exceptions: {doc['exceptions']}", doc
    return None, doc


def pinot_ts(d: dt.datetime) -> str:
    """A TIMESTAMP cell as the broker renders it (java.sql.Timestamp)."""
    frac = f"{d.microsecond:06d}".rstrip("0") or "0"
    return d.strftime("%Y-%m-%d %H:%M:%S") + "." + frac


def cell_matches(got, want) -> bool:
    if want is None:
        return got is None
    if isinstance(want, bool):
        return got is want
    if isinstance(want, (float, decimal.Decimal)):
        w = float(want)
        return (isinstance(got, (int, float)) and not isinstance(got, bool)
                and abs(got - w) <= 1e-9 * max(1.0, abs(w)))
    if isinstance(want, int):
        return isinstance(got, int) and not isinstance(got, bool) and got == want
    if isinstance(want, dt.datetime):
        return got == pinot_ts(want)
    if isinstance(want, dt.date):
        return got == want.isoformat()
    return got == want


def rows_match(got_rows, want_rows) -> bool:
    return len(got_rows) == len(want_rows) and all(
        len(g) == len(w) and all(cell_matches(a, b) for a, b in zip(g, w))
        for g, w in zip(got_rows, want_rows))


def duck(data_dir: Path):
    """DuckDB over the generated tables: the independent oracle."""
    import duckdb
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    for t in datagen.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir / t}.parquet')")
    return con


def timed_setups(launch, engine_args, ready):
    """Run SETUPS set-ups, the first from process launch; return the engine,
    the last ready reply and each set-up's seconds. `ready(engine, reply)`
    finishes a set-up on the harness side (warm-up, stream start)."""
    times, engine, reply = [], None, None
    for i in range(SETUPS):
        if i == 0:
            engine = launch(engine_args)
            t0 = engine.launched
        else:
            engine.cmd("teardown", timeout=120)
            t0 = time.perf_counter()
        reply = engine.cmd("setup", timeout=170)
        ready(engine, reply)
        times.append(time.perf_counter() - t0)
        progress(f"set-up {i + 1} took {times[-1]:.2f} s")
    return engine, reply, times


def lateness_check(res: Result, lates, period: float, what: str):
    s = sorted(lates)
    if not s:
        return
    p99 = s[min(len(s) - 1, int(0.99 * len(s)))]
    res.record(f"generator_late_p99_ms.{what}", "ms", p99 * 1e3, len(s))
    res.record(f"generator_late_max_ms.{what}", "ms", s[-1] * 1e3, len(s))
    if p99 > LATE_P99_SHARE * period or s[-1] > LATE_MAX_SHARE * period:
        raise InvalidRun(f"{what} generator fell behind: p99 {p99 * 1e3:.1f} ms, "
                         f"max {s[-1] * 1e3:.1f} ms late")


def add_latency_records(res: Result, prefix: str, samples, unit="ms"):
    s = stats.summarize(samples)
    s["tail_fixed"] = stats.percentile(samples, TAIL_PCT)
    res.record(f"{prefix}_p50_{unit}", unit, s["p50"], s["n"])
    res.record(f"{prefix}_p{TAIL_PCT}_{unit}", unit, s["tail_fixed"], s["n"])
    res.record(f"{prefix}_tail_{unit}", unit, s["tail"], s["n"])
    if s["n"]:
        res.record(f"{prefix}_tail_pct", "%", s["tail_pct"], s["n"])
    return s


def setup_records(res: Result, times):
    res.e2e["setup_s"] = statistics.median(times)
    res.record("setup_s", "s", res.e2e["setup_s"], len(times))
    res.record("setup_first_s", "s", times[0], 1)


# ---------------------------------------------------------------- serve

DASHBOARDS = [
    # the reference's "revenue by campaign over time", on the events table
    ("SELECT event_type, DATETRUNC('DAY', ts) AS day, sum(value) AS revenue, count(*) AS n "
     "FROM events GROUP BY event_type, DATETRUNC('DAY', ts) ORDER BY event_type, day",
     "SELECT event_type, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day, sum(value) AS revenue, "
     "count(*) AS n FROM events GROUP BY 1, 2 ORDER BY 1, 2"),
    ("SELECT count(*) AS n FROM orders", None),
    ("SELECT o_orderpriority, count(*) AS n FROM orders GROUP BY o_orderpriority "
     "ORDER BY o_orderpriority", None),
    ("SELECT l_returnflag, sum(l_quantity) AS q FROM lineitem GROUP BY l_returnflag "
     "ORDER BY l_returnflag", None),
    ("SELECT r_name, count(*) AS n FROM nation JOIN region ON n_regionkey = r_regionkey "
     "GROUP BY r_name ORDER BY r_name", None),
    ("SELECT c_mktsegment, avg(c_acctbal) AS b FROM customer GROUP BY c_mktsegment "
     "ORDER BY c_mktsegment", None),
    ("SELECT o_orderkey, o_totalprice FROM orders ORDER BY o_totalprice DESC, o_orderkey "
     "LIMIT 10", None),
]


@dataclass(frozen=True)
class Req:
    sql: str
    duck_sql: str
    options: str = None
    dashboard: bool = False


class ServeMix:
    """The seeded request sequence, in blocks of ten: each block holds every
    dashboard text once (they repeat across blocks) and three ad-hoc
    requests (the ad-hoc shapes in rotation, each with fresh seeded
    literals, so no ad-hoc text ever repeats), in seeded order. Every run
    thus sends the same mix; the seed picks the order and the literals."""

    def __init__(self, seed: int, sf: float):
        self.rng = random.Random(seed)
        self.n_users = max(1, int(round(150_000 * sf)) // 10)
        self.n_cust = max(15, int(round(150_000 * sf)))
        self.seen = set()
        self.lock = threading.Lock()
        self.block = []
        self.adhoc_count = 0

    def _adhoc(self, shape: int) -> Req:
        r = self.rng
        if shape == 0:
            u = r.randrange(self.n_users)
            sql = (f"SELECT event_id, event_type, value FROM events WHERE user_id = {u} "
                   f"ORDER BY event_id LIMIT {r.randrange(5, 50)}")
            return Req(sql, sql)
        if shape == 1:
            a = dt.datetime(2024, 1, 1) + dt.timedelta(seconds=r.randrange(29 * 86400))
            b = a + dt.timedelta(seconds=r.randrange(600, 12 * 3600))
            sql = (f"SELECT event_type, count(*) AS n, sum(value) AS v FROM events "
                   f"WHERE ts >= TIMESTAMP '{a}' AND ts < TIMESTAMP '{b}' "
                   f"GROUP BY event_type ORDER BY event_type")
            return Req(sql, sql)
        if shape == 2:
            c = r.randrange(self.n_cust)
            sql = (f"SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders "
                   f"WHERE o_custkey = {c} ORDER BY o_orderkey")
            return Req(sql, sql)
        if shape == 3:
            k, u = r.randrange(100), r.randrange(1, self.n_users + 1)
            return Req(
                f"SELECT count(*) AS n, sum(value) AS v FROM events "
                f"WHERE jsonExtractScalar(props, '$.k', 'INT') = {k} AND user_id < {u}",
                f"SELECT count(*) AS n, sum(value) AS v FROM events "
                f"WHERE CAST(json_extract_string(props, '$.k') AS INTEGER) = {k} AND user_id < {u}")
        x = round(r.uniform(-999.0, 9999.0), 2)
        body = (f"SELECT c_mktsegment, count(*) AS n FROM customer WHERE c_acctbal > {x} "
                f"GROUP BY c_mktsegment ORDER BY c_mktsegment")
        if r.random() < 0.5:
            return Req(f"SET timeoutMs = 30000; {body}", body)
        return Req(body, body, options="timeoutMs=30000")

    def adhoc(self) -> Req:
        """The next ad-hoc request: the next shape in rotation, with a text
        never sent before."""
        shape = self.adhoc_count % ADHOC_SHAPES
        self.adhoc_count += 1
        while True:
            req = self._adhoc(shape)
            if req.sql not in self.seen:
                self.seen.add(req.sql)
                return req

    def next(self) -> Req:
        with self.lock:
            if not self.block:
                self.block = [Req(sql, duck_sql or sql, dashboard=True)
                              for sql, duck_sql in DASHBOARDS]
                self.block += [self.adhoc() for _ in range(SERVE_ADHOC_PER_BLOCK)]
                self.rng.shuffle(self.block)
            return self.block.pop()


@dataclass
class Shot:
    req: Req
    due: float
    released: float
    sent: float
    done: float
    status: object
    body: bytes


def open_loop(port, mix, rate, duration, conns):
    n = max(1, int(rate * duration))
    reqs = [mix.next() for _ in range(n)]
    q = queue.Queue()
    shots = [None] * n
    start = time.perf_counter() + 0.05

    def dispatch():
        for i in range(n):
            due = start + i / rate
            wait = due - time.perf_counter()
            if wait > 0:
                time.sleep(wait)
            q.put((i, due, time.perf_counter()))
        for _ in range(conns):
            q.put(None)

    def work():
        c = Client(port)
        while True:
            item = q.get()
            if item is None:
                break
            i, due, released = item
            sent = time.perf_counter()
            status, body = c.post(reqs[i].sql, reqs[i].options)
            shots[i] = Shot(reqs[i], due, released, sent, time.perf_counter(), status, body)
        c.close()

    threads = [threading.Thread(target=dispatch)] + \
              [threading.Thread(target=work) for _ in range(conns)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    return shots


def closed_loop(port, mix, duration, conns):
    shots, lock = [], threading.Lock()
    start = time.perf_counter()
    end = start + duration

    def work():
        c = Client(port)
        while time.perf_counter() < end:
            req = mix.next()
            sent = time.perf_counter()
            status, body = c.post(req.sql, req.options)
            with lock:
                shots.append(Shot(req, sent, sent, sent, time.perf_counter(), status, body))
        c.close()

    threads = [threading.Thread(target=work) for _ in range(conns)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    return shots, end


def judge(shots, data_dir):
    """Check every reply against DuckDB's answer to the same request.
    Returns ([error or None per shot], [response doc per shot], wrong)."""
    con = duck(data_dir)
    answers = {}
    errors, docs, wrong = [], [], 0
    for s in shots:
        err, doc = parse_answer(s.status, s.body)
        if err is None:
            if s.req.duck_sql not in answers:
                answers[s.req.duck_sql] = con.execute(s.req.duck_sql).fetchall()
            got, want = doc["resultTable"]["rows"], answers[s.req.duck_sql]
            if not rows_match(got, want):
                err = "wrong answer"
                wrong += 1
                if wrong <= 3:
                    print(f"perfbench: wrong answer to {s.req.sql!r}: got {str(got)[:300]}, "
                          f"DuckDB {str(want)[:300]}", file=sys.stderr)
        errors.append(err)
        docs.append(doc)
    con.close()
    return errors, docs, wrong


def run_serve(ctx: Context, launch) -> Result:
    res = Result()
    ctx.data_dir.mkdir()
    datagen.write(ctx.seed, SERVE_SF, ctx.data_dir)
    progress("tables generated")
    warm = ServeMix(ctx.seed ^ 0x5EED, SERVE_SF)

    def ready(engine, reply):
        c = Client(reply["port"])
        # warm-up: each dashboard text and each ad-hoc shape once
        for sql, _ in DASHBOARDS:
            c.post(sql)
        for _ in range(ADHOC_SHAPES):
            req = warm.adhoc()
            c.post(req.sql, req.options)
        c.close()

    engine, reply, setups = timed_setups(launch, (), ready)
    setup_records(res, setups)
    port = reply["port"]
    mix = ServeMix(ctx.seed, SERVE_SF)
    if ctx.trace:
        engine.cmd("mark")
    dur_a = ctx.seconds * SERVE_PHASE_A_SHARE
    shots_a = open_loop(port, mix, SERVE_RATE, dur_a, ctx.cores)
    progress(f"phase A: {len(shots_a)} requests")
    shots_b, end_b = closed_loop(port, mix, ctx.seconds - dur_a, ctx.cores)
    progress(f"phase B: {len(shots_b)} requests")
    trace = dump_trace(ctx, engine) if ctx.trace else None

    errs, docs, wrong = judge(shots_a + shots_b, ctx.data_dir)
    progress("answers checked")
    errs_a, errs_b = errs[:len(shots_a)], errs[len(shots_a):]
    res.attempted = len(shots_a) + len(shots_b)
    res.failed = sum(e is not None for e in errs)
    res.correct = wrong == 0
    for e in sorted({e for e in errs if e})[:5]:
        print(f"perfbench: serve failure: {e}", file=sys.stderr)

    lat_a = [(s.done - s.due) * 1e3 if e is None else stats.FAILED
             for s, e in zip(shots_a, errs_a)]
    sa = add_latency_records(res, "latency", lat_a)
    res.e2e["latency_p50_ms"] = sa["p50"]
    res.e2e["latency_tail_ms"] = sa["tail_fixed"]
    ok_b = sum(1 for s, e in zip(shots_b, errs_b) if e is None and s.done <= end_b)
    res.e2e["throughput_per_s"] = ok_b / (ctx.seconds - dur_a)
    res.record("capacity_qps", "1/s", res.e2e["throughput_per_s"], len(shots_b))
    add_latency_records(res, "closed_loop_latency",
                        [(s.done - s.sent) * 1e3 if e is None else stats.FAILED
                         for s, e in zip(shots_b, errs_b)])
    dash = [s.req.dashboard for s in shots_a + shots_b]
    res.record("dashboard_share", "ratio", sum(dash) / max(1, len(dash)), len(dash))
    res.record("failed_share", "ratio", res.failed / max(1, res.attempted), res.attempted)
    lateness_check(res, [s.released - s.due for s in shots_a], 1 / SERVE_RATE, "dispatch")
    res.record("send_late_p99_ms", "ms",
               sorted(s.sent - s.due for s in shots_a)[int(0.99 * (len(shots_a) - 1))] * 1e3,
               len(shots_a))
    if trace is not None:
        spans = []
        for i, (s, d) in enumerate(zip(shots_a + shots_b, docs)):
            spans.append({"name": "http", "rid": f"req-{i}", "start": s.sent * 1e3,
                          "end": s.done * 1e3, "parent": None,
                          "engine_ms": (d or {}).get("timeUsedMs"), "bytes": len(s.body)})
        layer_metrics(res, trace, spans, n_ops=res.attempted)
        write_trace(ctx, "serve", trace, spans)
    return res


# ---------------------------------------------------------------- suite

def run_suite(ctx: Context, launch) -> Result:
    res = Result()
    ctx.data_dir.mkdir()
    datagen.write(ctx.seed, SUITE_SF, ctx.data_dir)
    progress("tables generated")
    engine, reply, setups = timed_setups(
        launch, (",".join(SUITE_QUERIES), ",".join(SUITE_ARTIFACT_QUERIES)), lambda e, r: None)
    setup_records(res, setups)
    res.record("setup_artifacts_s", "s", reply.get("artifacts_s", 0.0), 1)
    # pass 0 warms the JIT and Spark's code generation cache and is reported
    # only as a record
    timed = max(SUITE_MIN_TIMED_PASSES, int(ctx.seconds // SUITE_SECONDS_PER_PASS))
    passes = []
    for i in range(1 + timed):
        t_pass = time.perf_counter()
        engine.cmd("suite", timeout=175)
        passes.append(json.loads((ctx.run_dir / "suite_results.json").read_text()))
        progress(f"pass {i} took {time.perf_counter() - t_pass:.2f} s")
    trace = dump_trace(ctx, engine) if ctx.trace else None
    oracle = json.loads((ctx.run_dir / "oracle_sql.json").read_text())

    # each query's reference digest is DuckDB's answer, or, for the queries
    # not checked against it, the warm-up pass's own; every execution of the
    # query in every pass must give it
    con = duck(ctx.data_dir)
    reference, checked = {}, 0
    for q in passes[0]:
        if not q["ok"]:
            continue
        sql = oracle.get(q["name"])
        if sql is not None and q["name"] not in SUITE_ORACLE_SKIP:
            checked += 1
            cur = con.execute(sql)
            reference[q["name"]] = stats.digest([d[0] for d in cur.description], cur.fetchall())
        else:
            reference[q["name"]] = q["digest"]
    con.close()
    progress("digests checked")
    wrong, failed, times = set(), 0, []
    for i, qs in enumerate(passes):
        for q in qs:
            name = q["name"]
            bad = not q["ok"]
            if bad:
                print(f"perfbench: {name} failed: {q.get('error')}", file=sys.stderr)
            elif name in reference and q["digest"] != reference[name]:
                bad = True
                wrong.add(name)
            failed += bad
            if i > 0:
                times.append(stats.FAILED if bad else q["total_ms"])
    for name in sorted(wrong):
        print(f"perfbench: {name}: result differs from the DuckDB oracle or the "
              f"first pass", file=sys.stderr)
    built = sorted({a for qs in passes for q in qs for a in q.get("built_artifacts", [])})
    if built:
        print("perfbench: a pass built derived artifacts set-up did not: "
              + ", ".join(built), file=sys.stderr)
    cold = [q["total_ms"] for q in passes[0] if q["ok"]]
    res.attempted = sum(len(qs) for qs in passes)
    res.failed = failed
    res.correct = not wrong and not built
    n = len(times)
    s = add_latency_records(res, "query", times)
    res.e2e["latency_p50_ms"] = s["p50"]
    res.e2e["latency_tail_ms"] = s["tail_fixed"]
    total_s = sum(times) / 1e3
    res.e2e["throughput_per_s"] = n / total_s if total_s > 0 else 0.0
    res.record("suite_total_s", "s", total_s / (len(passes) - 1), len(SUITE_QUERIES))
    res.record("suite_cold_total_s", "s", sum(cold) / 1e3, len(cold))
    res.record("timed_passes", "count", len(passes) - 1, n)
    res.record("queries_per_s", "1/s", res.e2e["throughput_per_s"], n)
    res.record("oracle_checked", "count", checked, len(SUITE_QUERIES))
    res.record("failed_share", "ratio", res.failed / max(1, res.attempted), res.attempted)
    if trace is not None:
        # the engine's trace covers the last pass
        layer_metrics(res, trace, [], n_ops=len(passes[-1]))
        write_trace(ctx, "suite", trace, [])
    return res


# ---------------------------------------------------------------- ingest

PRODUCTS = ["Chair", "Table", "Shoes", "Shirt", "Gloves", "Keyboard", "Mouse", "Lamp"]
COLORS = ["red", "blue", "green", "black", "white", "orange"]
DEPARTMENTS = ["Garden", "Home", "Sports", "Toys", "Books", "Music"]
ADJECTIVES = ["Small", "Rustic", "Sleek", "Ergonomic", "Handmade", "Refined"]
CAMPAIGNS = ["BlackFriday", "10Percent", "NONE"]

INGEST_COUNT_SQL = "SELECT count(*) AS n, sum(price) AS revenue FROM kinesisTable"
INGEST_DASHBOARD_SQL = ("SELECT campaign, sum(price) AS revenue, count(*) AS n FROM kinesisTable "
                        "GROUP BY campaign ORDER BY campaign")


class EventSource:
    """Publishes KDG-shaped events (EventIngest.rawSchema) as JSON-lines
    files, each written under a hidden name and renamed into place."""

    def __init__(self, seed: int, source_dir: Path, prefix: str):
        self.rng = random.Random(seed)
        self.dir = source_dir
        self.prefix = prefix
        self.files = 0
        self.events = 0
        self.price_sum = 0
        self.published = []   # (first ordinal, last ordinal, publish time, file name)

    def prepare(self, n: int):
        """The next file's events, made ahead of its publishing time."""
        r = self.rng
        now = dt.datetime.now(dt.timezone.utc).strftime("%Y-%m-%d %H:%M:%S")
        lines, prices = [], 0
        for _ in range(n):
            price = r.randrange(10, 151)
            prices += price
            lines.append(json.dumps({
                "userID": str(r.randrange(1, 101)),
                "productName": f"{r.choice(ADJECTIVES)} {r.choice(PRODUCTS)}",
                "color": r.choice(COLORS), "department": r.choice(DEPARTMENTS),
                "product": r.choice(PRODUCTS), "campaign": r.choice(CAMPAIGNS),
                "price": price, "creationTimestamp": now}))
        return n, prices, "\n".join(lines) + "\n"

    def publish(self, prepared) -> float:
        n, prices, text = prepared
        self.price_sum += prices
        self.files += 1
        name = f"{self.prefix}-{self.files:06d}.json"
        tmp = self.dir / f".{name}.tmp"
        tmp.write_text(text)
        os.rename(tmp, self.dir / name)
        t = time.time()  # wall clock: compared with the sink's commit-log mtimes
        self.published.append((self.events + 1, self.events + n, t, name))
        self.events += n
        return t


class Poller:
    """Posts the count query and one dashboard group-by every INGEST_POLL_S
    seconds, or back to back when they take longer; records (send, done,
    visible count, revenue, error, response bytes, engine ms) for each, in
    wall-clock seconds."""

    def __init__(self, port: int):
        self.client = Client(port)
        self.polls = []
        self.stop = threading.Event()
        self.thread = threading.Thread(target=self._run)

    def one(self, sql):
        sent = time.time()
        status, body = self.client.post(sql)
        done = time.time()
        err, doc = parse_answer(status, body)
        count, revenue, engine_ms = None, None, None
        if err is None:
            engine_ms = doc.get("timeUsedMs")
            rows = doc["resultTable"]["rows"]
            if sql == INGEST_COUNT_SQL:
                count, revenue = rows[0][0], rows[0][1]
            else:
                count = sum(r[2] for r in rows)
                revenue = sum(r[1] for r in rows)
        self.polls.append((sent, done, count, revenue, err, len(body), engine_ms))

    def _run(self):
        nxt = time.time()
        while not self.stop.is_set():
            self.one(INGEST_COUNT_SQL)
            self.one(INGEST_DASHBOARD_SQL)
            nxt += INGEST_POLL_S
            wait = nxt - time.time()
            if wait > 0:
                self.stop.wait(wait)
            else:
                nxt = time.time()

    def start(self):
        self.thread.start()

    def finish(self):
        self.stop.set()
        self.thread.join()
        self.client.close()


def wait_count(client: Client, want: int, timeout: float):
    deadline = time.monotonic() + timeout
    while time.monotonic() < deadline:
        err, doc = parse_answer(*client.post(INGEST_COUNT_SQL))
        if err is None and doc["resultTable"]["rows"][0][0] == want:
            return
        time.sleep(0.02)
    raise RuntimeError(f"realtime table never showed {want} rows")


def run_ingest(ctx: Context, launch) -> Result:
    res = Result()
    ctx.data_dir.mkdir()
    source = ctx.run_dir / "source"

    def resume(port):
        conn = http.client.HTTPConnection("localhost", port, timeout=REQUEST_TIMEOUT_S)
        conn.request("POST", "/tables/kinesisTable/resumeConsumption", "")
        resp = conn.getresponse()
        body = resp.read()
        conn.close()
        if resp.status != 200:
            raise RuntimeError(f"resumeConsumption answered {resp.status}: {body[:200]!r}")

    warm = None

    def ready(engine, reply):
        nonlocal warm
        for f in source.glob("*"):
            f.unlink()
        resume(reply["port"])
        warm = EventSource(ctx.seed ^ 0xA11, source, "warmup")
        warm.publish(warm.prepare(INGEST_WARMUP_EVENTS))
        engine.cmd("view", timeout=150)
        c = Client(reply["port"])
        wait_count(c, INGEST_WARMUP_EVENTS, 60)
        c.close()

    engine, reply, setups = timed_setups(launch, (), ready)
    setup_records(res, setups)
    port = reply["port"]
    # the table starts with the last set-up's warm-up events
    src = EventSource(ctx.seed, source, "events")
    src.events = INGEST_WARMUP_EVENTS
    if ctx.trace:
        engine.cmd("mark")
    poller = Poller(port)
    poller.start()
    period = INGEST_FILE_EVENTS / INGEST_RATE
    n_ramp = int(ctx.seconds * INGEST_RAMP_SHARE / period)
    n_files = n_ramp + int(ctx.seconds * INGEST_CONSTANT_SHARE / period)
    t0 = time.time() + 0.05
    lates = []
    for i in range(n_files):
        due = t0 + i * period
        prepared = src.prepare(INGEST_FILE_EVENTS)
        wait = due - time.time()
        if wait > 0:
            time.sleep(wait)
        lates.append(src.publish(prepared) - due)
    t_const_end = time.time()
    t_ramp_end = t0 + n_ramp * period
    progress(f"constant-rate phase: {n_ramp} ramp and {n_files - n_ramp} scored files")
    visible = max([p[2] for p in poller.polls if p[2] is not None], default=0)
    backlog_events = src.events - visible
    const_files = list(src.published)
    const_polls = len(poller.polls)
    # let the constant-rate events land, so the drain starts from an idle stream
    wait_commits(ctx.run_dir, [f[3] for f in const_files], 30)
    # backlog: a fixed batch published at once and drained
    backlog = [src.prepare(INGEST_BACKLOG_FILE_EVENTS) for _ in range(INGEST_BACKLOG_FILES)]
    t_backlog = time.time()
    for prepared in backlog:
        src.publish(prepared)
    total = src.events
    deadline = time.monotonic() + 120
    while time.monotonic() < deadline:
        if any(p[2] is not None and p[2] >= total for p in poller.polls[const_polls:]):
            break
        time.sleep(0.01)
    poller.finish()
    progress("backlog drained")
    trace = dump_trace(ctx, engine) if ctx.trace else None
    file_batch, commits = batch_commits(ctx.run_dir / f"checkpoint-{SETUPS}",
                                        ctx.run_dir / "sink")

    polls = poller.polls
    errs = [p for p in polls if p[4] is not None]
    final = [p for p in polls if p[2] is not None and p[2] >= total]
    res.attempted = len(polls)
    res.failed = len(errs)
    expected_revenue = warm.price_sum + src.price_sum
    last = final[-1] if final else None
    res.correct = (last is not None and last[2] == total and last[3] == expected_revenue)
    if not res.correct:
        print(f"perfbench: ingest final count/revenue {last and last[2:4]} != "
              f"({total}, {expected_revenue})", file=sys.stderr)
        res.failed += 1

    # Freshness: from publishing a file to the sink commit that makes its
    # rows visible to every query started afterwards, timed from the sink's
    # commit log, so the poll cadence stays out of the figure.
    def visible_at(name):
        return commits.get(file_batch.get(name), stats.FAILED)

    fresh_ms = [(visible_at(name) - t_pub) * 1e3 for _, _, t_pub, name in const_files[n_ramp:]]
    s = add_latency_records(res, "freshness", fresh_ms)
    res.e2e["latency_p50_ms"] = s["p50"]
    res.e2e["latency_tail_ms"] = s["tail_fixed"]
    # the same figure as the poller saw it: event i is visible at the first
    # poll answering count >= i (one sample per file)
    by_poll = stats.freshness([f[:3] for f in const_files],
                              [(p[1], p[2]) for p in polls if p[2] is not None])
    add_latency_records(res, "freshness_by_poll",
                        [f * 1e3 for f in by_poll[INGEST_FILE_EVENTS - 1::INGEST_FILE_EVENTS]][n_ramp:])
    read = [(p[1] - p[0]) * 1e3 if p[4] is None else stats.FAILED
            for p in polls[:const_polls] if p[0] >= t_ramp_end]
    add_latency_records(res, "read_latency", read)
    drain_s = visible_at(src.published[-1][3]) - t_backlog
    backlog_rows = INGEST_BACKLOG_FILES * INGEST_BACKLOG_FILE_EVENTS
    res.e2e["throughput_per_s"] = backlog_rows / drain_s
    res.record("drain_rows_per_s", "rows/s", res.e2e["throughput_per_s"], backlog_rows)
    const_events = sum(hi - lo + 1 for lo, hi, _, _ in const_files)
    res.record("ingest_rate", "rows/s", const_events / max(1e-9, t_const_end - t0), const_events)
    res.record("backlog_at_const_end", "rows", backlog_events, 1)
    res.record("failed_share", "ratio", res.failed / max(1, res.attempted), res.attempted)
    lateness_check(res, lates, period, "publish")
    if trace is not None:
        spans = [{"name": "http", "rid": f"poll-{i}", "start": p[0] * 1e3, "end": p[1] * 1e3,
                  "parent": None, "engine_ms": p[6], "bytes": p[5]}
                 for i, p in enumerate(polls)]
        sink = ctx.run_dir / "sink"
        files = [f for f in sink.rglob("*.parquet") if "_spark_metadata" not in f.parts]
        res.layers["sink.files"] = len(files)
        res.layers["sink.bytes_per_row"] = sum(f.stat().st_size for f in files) / max(1, total)
        res.layers["stream.backlog_files"] = backlog_events / INGEST_FILE_EVENTS
        layer_metrics(res, trace, spans, n_ops=len(polls))
        write_trace(ctx, "ingest", trace, spans)
    return res


def wait_commits(run_dir: Path, names, timeout: float):
    """Wait until the sink has committed the batches that read `names`."""
    deadline = time.monotonic() + timeout
    while time.monotonic() < deadline:
        try:
            file_batch, commits = batch_commits(run_dir / f"checkpoint-{SETUPS}", run_dir / "sink")
        except (OSError, ValueError):
            file_batch, commits = {}, {}
        if all(file_batch.get(n) in commits for n in names):
            return
        time.sleep(0.02)


def batch_commits(checkpoint: Path, sink: Path):
    """Which micro-batch read each source file, and when each batch's sink
    commit landed: from the stream's source log in its checkpoint (JSON
    lines with path and batchId) and the mtimes of the sink's commit log
    (`_spark_metadata/<batch>`, or `<batch>.compact`)."""
    file_batch = {}
    for f in (checkpoint / "sources" / "0").iterdir():
        if f.name.startswith("."):
            continue
        for line in f.read_text().splitlines()[1:]:
            if line.strip():
                e = json.loads(line)
                file_batch[e["path"].rsplit("/", 1)[-1]] = e["batchId"]
    commits = {}
    for f in (sink / "_spark_metadata").iterdir():
        stem = f.name.split(".")[0]
        if stem.isdigit():
            commits[int(stem)] = f.stat().st_mtime
    return file_batch, commits


# ---------------------------------------------------------------- tracing

def dump_trace(ctx: Context, engine) -> dict:
    engine.cmd("dump", timeout=60)
    return json.loads((ctx.run_dir / "trace_engine.json").read_text())


def write_trace(ctx: Context, workload: str, trace: dict, client_spans):
    out = ctx.root / ".bench_trace"
    out.mkdir(exist_ok=True)
    (out / f"{workload}.json").write_text(json.dumps(
        {"seed": ctx.seed, "engine": trace, "client": client_spans}))


def layer_metrics(res: Result, trace: dict, client_spans, n_ops: int):
    c = trace["counters"]
    g = lambda k: float(c.get(k) or 0.0)  # noqa: E731
    ops = max(1, n_ops)
    q = max(1.0, g("queries"))
    L = res.layers
    http = [s for s in client_spans if s["name"] == "http"]
    timed = [s for s in http if s.get("engine_ms") is not None]
    L["server.overhead_ms"] = (sum((s["end"] - s["start"]) - s["engine_ms"] for s in timed)
                               / len(timed)) if timed else 0.0
    L["server.resp_bytes"] = sum(s["bytes"] for s in http) / len(http) if http else 0.0
    for phase, name in (("parsing", "parse"), ("analysis", "analysis"),
                        ("optimization", "optimization"), ("planning", "planning")):
        L[f"plan.{name}_ms"] = g(f"phase.{phase}") / q
    spans = trace["spans"]
    builds = [s for s in spans if s["name"] == "build"]
    jobs = [s for s in spans if s["name"] == "job"]
    L["build.ms"] = sum(s["end"] - s["start"] for s in builds) / len(builds) if builds else 0.0
    starts = sorted(j["start"] for j in jobs)
    in_build = sum(bisect.bisect_right(starts, b["end"]) - bisect.bisect_left(starts, b["start"])
                   for b in builds)
    L["build.jobs"] = in_build / len(builds) if builds else 0.0
    L["sched.jobs"] = g("jobs") / ops
    L["sched.stages"] = g("stages") / ops
    L["sched.tasks"] = g("tasks") / ops
    L["sched.delay_ms"] = g("sched.delay_ms") / max(1.0, g("sched.delay_n"))
    L["sched.task_failures"] = g("task_failures")
    for k in ("exec.run_ms", "exec.cpu_ms", "exec.gc_ms", "scan.bytes", "scan.rows",
              "scan.files", "shuffle.write_bytes", "shuffle.read_bytes",
              "shuffle.fetch_wait_ms", "spill.bytes", "result.bytes", "result.ser_ms"):
        L[k] = g(k) / ops
    L["exec.peak_mem_bytes"] = g("exec.peak_mem_bytes")
    L["cache.storage_peak_bytes"] = g("cache.storage_peak_bytes")
    L["setup.artifacts_s"] = g("setup.artifacts_s")
    batches = g("stream.batches")
    L["stream.batches"] = batches
    L["stream.rows_per_batch"] = g("stream.rows") / batches if batches else 0.0
    for key, name in (("triggerExecution", "trigger_ms"), ("latestOffset", "latest_offset_ms"),
                      ("getBatch", "get_batch_ms"), ("queryPlanning", "query_planning_ms"),
                      ("addBatch", "add_batch_ms"), ("walCommit", "wal_commit_ms")):
        L[f"stream.{name}"] = g(f"stream.{key}") / batches if batches else 0.0
    for name, _ in LAYERS:
        L.setdefault(name, 0.0)
    # self time per engine span name: what each layer spent outside the
    # spans it caused
    closed = [s for s in attach_orphans(spans) if s["end"] is not None]
    st = stats.self_times(closed)
    for name in sorted({s["name"] for s in closed}):
        group = [s for s in closed if s["name"] == name]
        res.record(f"self_ms.{name}", "ms", sum(st[s["id"]] for s in group), len(group))
    for name, unit in LAYERS:
        res.record(name, unit, L[name], n_ops)


def attach_orphans(spans):
    """Give each parentless sql and job span the build or consume span that
    contains its start (suite queries run one at a time, so containment is
    causation)."""
    steps = sorted((s for s in spans if s["name"] in ("build", "consume")
                    and s["end"] is not None), key=lambda s: s["start"])
    starts = [s["start"] for s in steps]
    for s in spans:
        if s["parent"] is None and s["name"] in ("sql", "job") and steps:
            i = bisect.bisect_right(starts, s["start"]) - 1
            if i >= 0 and steps[i]["end"] >= s["start"]:
                s["parent"] = steps[i]["id"]
    return spans


RUNNERS = {"serve": run_serve, "suite": run_suite, "ingest": run_ingest}
