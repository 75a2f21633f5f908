#!/usr/bin/env python3
"""The repository benchmark: one workload per invocation.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the program and the
benchmark harness from the checkout's sources with sbt (perfbench/build.sbt
depends on the repository's own build); later runs reuse the build while
the sources are unchanged. The run generates its inputs from --seed,
starts the benchmark JVM (Spark local[nproc]), measures for --seconds
after set-up and warm-up, checks every output against the generator or
DuckDB, and prints one JSON line last:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json;
with --trace 1 they are its per-layer metrics. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import dashboard  # noqa: E402
import gen  # noqa: E402

WORKLOADS = ("ingest_stream", "ingest_batch", "ch_dashboard", "curation")
CONFIG = os.path.join(HERE, "bench.yaml")
JVM_HEAP = "3g"
STREAM_RATE = 10_000          # paced lines/s, the reference's stated regime
STREAM_WARM_S = 15.0          # paced warm-up before the freshness window
STREAM_FLOOD_PER_S = 10_000   # flood lines per second of --seconds
BATCH_LINES = 400_000
DASH_LINES = 20_000
DASH_SF = 0.01                # scale factor of the dashboard's analytical tables
DASH_WARM_ROUNDS = 6          # untimed refreshes before the window
STEAL_WARN_PCT = 5.0          # steal share above which a run is flagged
MICRO_LINES = 100_000
RUN_LIMIT_S = 165             # JVM deadline after run start; checks follow
CORPUS_SEED = 42              # the corpus tables; the run seed samples them
# the sample is the size the catalog's DuckDB oracles are run at (500
# documents, 500 vectors); the pipelines are dispatch-bound there
CORPUS_SAMPLE = {"documents": 0.1, "embeddings": 0.25}

_children = []
T0 = time.time()


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def die(msg):
    log(msg)
    sys.exit(2)


# ---- build -----------------------------------------------------------------

def _source_hash():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(ROOT, "project"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, names in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, n) for n in sorted(names)]
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Build with sbt unless the launch file matches the sources."""
    launch = os.path.join(HERE, "target", "launch.txt")
    stamp = os.path.join(HERE, "target", "launch.hash")
    digest = _source_hash()
    if os.path.exists(launch) and os.path.exists(stamp) and open(stamp).read() == digest:
        return open(launch).read().splitlines()
    log("building the program and the benchmark with sbt")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "-Dsbt.offline" not in env.get("SBT_OPTS", ""):
        env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true").strip()
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeLaunch"],
                       cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr,
                       stdin=subprocess.DEVNULL, timeout=840)
    if r.returncode != 0 or not os.path.exists(launch):
        die("sbt build failed")
    with open(stamp, "w") as f:
        f.write(digest)
    return open(launch).read().splitlines()


# ---- processes -------------------------------------------------------------

def spawn(cmd, **kw):
    p = subprocess.Popen(cmd, stdin=subprocess.DEVNULL, stdout=sys.stderr,
                         stderr=sys.stderr, start_new_session=True, **kw)
    _children.append(p)
    return p


def reap(timeout=30):
    """Stop every child process and wait until each has ended."""
    for p in _children:
        if p.poll() is None:
            try:
                os.killpg(p.pid, signal.SIGTERM)
            except ProcessLookupError:
                pass
    deadline = time.time() + timeout
    for p in _children:
        try:
            p.wait(max(0.1, deadline - time.time()))
        except subprocess.TimeoutExpired:
            try:
                os.killpg(p.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
            p.wait()


def jvm(launch, work, workload, seconds, trace, cores, extra):
    cp, jopts = launch[0], [o for o in launch[1:] if o]
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    args = {"workload": workload, "seconds": seconds, "trace": trace, "work": work,
            "cores": cores, "config": CONFIG, **extra}
    cmd = [java, *jopts, f"-Xmx{JVM_HEAP}", f"-Djava.io.tmpdir={work}/tmp", "-XX:-UsePerfData",
           "-cp", cp, "perfbench.Main"]
    for k, v in args.items():
        cmd += [f"--{k}", str(v)]
    os.makedirs(f"{work}/tmp", exist_ok=True)
    # Spark's scratch space stays inside the checkout
    env = dict(os.environ, SPARK_LOCAL_DIRS=f"{work}/spark-local")
    return spawn(cmd, cwd=work, env=env)


def wait_jvm(p):
    """Wait for the benchmark JVM; the whole run must end within 180 s."""
    log(f"inputs ready after {time.time() - T0:.1f} s")
    try:
        rc = p.wait(max(5.0, T0 + RUN_LIMIT_S - time.time()))
    except subprocess.TimeoutExpired:
        die("benchmark JVM timed out")
    if rc != 0:
        die(f"benchmark JVM exited with {rc}")
    log(f"JVM done after {time.time() - T0:.1f} s")


# ---- statistics ------------------------------------------------------------

def pct(values, q):
    """Percentile (linear interpolation) of a non-empty sequence."""
    return float(np.percentile(np.asarray(values, dtype=float), q))


def median(values):
    return float(statistics.median(values)) if len(values) else 0.0


def interval_union(intervals):
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


# ---- output checks ---------------------------------------------------------

def duck():
    import duckdb
    con = duckdb.connect()
    con.sql("SET TimeZone = 'UTC'")
    con.sql(f"SET threads = {os.cpu_count() or 1}")
    return con


# per output column: how it is canonicalised before hashing
CHECK_COLS = [("remote_addr", "s"), ("remote_user", "s"), ("time_local", "t"),
              ("request", "s"), ("status", "i"), ("body_bytes_sent", "i"),
              ("http_referer", "s"), ("http_user_agent", "s"),
              ("request_length", "i"), ("request_time", "f"),
              ("upstream_connect_time", "f"), ("upstream_response_time", "f"),
              ("shard_id", "i")]


def checksums(con, relation, epoch_time):
    """Row count and an order-free hash sum per column."""
    exprs = []
    for c, kind in CHECK_COLS:
        v = {"s": c, "i": f"CAST({c} AS BIGINT)", "f": f"CAST({c} AS FLOAT)",
             "t": c if epoch_time else f"CAST(epoch({c}) AS BIGINT)"}[kind]
        exprs.append(f"sum(hash({v})::HUGEINT)")
    return con.sql(f"SELECT count(*), {', '.join(exprs)} FROM {relation}").fetchone()


def expected_checksums(expected):
    con = duck()
    con.register("expected", expected)
    return checksums(con, "expected", epoch_time=True)


def ingest_failures(con, out_glob, expected_sums, n_lines, hive=False):
    """Lines lost or mis-typed in one ingest output."""
    rel = f"read_parquet('{out_glob}', hive_partitioning={'true' if hive else 'false'})"
    got = checksums(con, rel, epoch_time=False)
    failed = abs(got[0] - expected_sums[0])
    if got[1:] != expected_sums[1:]:
        bad = [c for (c, _), a, b in zip(CHECK_COLS, got[1:], expected_sums[1:]) if a != b]
        log(f"checksum mismatch in {out_glob}: {bad}")
        failed = n_lines
    return min(failed, n_lines)


def count_lines(dir_):
    """Lines in the text files Spark wrote to `dir_`."""
    n = 0
    for name in os.listdir(dir_):
        if name.endswith(".txt"):
            with open(os.path.join(dir_, name), "rb") as f:
                n += f.read().count(b"\n")
    return n


def canon(v):
    if isinstance(v, float) and math.isnan(v):
        return None
    if hasattr(v, "timestamp") and hasattr(v, "hour"):      # datetime
        import datetime as dt
        if v.tzinfo is None:
            v = v.replace(tzinfo=dt.timezone.utc)
        return round(v.timestamp() * 1_000_000)
    if hasattr(v, "toordinal"):                               # date
        return v.toordinal() - 719163
    if hasattr(v, "as_tuple"):                                # Decimal
        return float(v)
    if isinstance(v, (list, tuple)):
        return [canon(x) for x in v]
    if isinstance(v, np.generic):
        return v.item()
    return v


def same(a, b):
    if isinstance(a, bool) or isinstance(b, bool):
        return a == b
    if isinstance(a, (int, float)) and isinstance(b, (int, float)):
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9)
    if isinstance(a, list) and isinstance(b, list):
        return len(a) == len(b) and all(same(x, y) for x, y in zip(a, b))
    return a == b


def same_rows(got, exp, ordered=True):
    got = [[canon(v) for v in r] for r in got]
    exp = [[canon(v) for v in r] for r in exp]
    if not ordered:
        key = lambda r: json.dumps(r, default=str)  # noqa: E731
        got, exp = sorted(got, key=key), sorted(exp, key=key)
    return len(got) == len(exp) and all(
        len(x) == len(y) and all(same(a, b) for a, b in zip(x, y)) for x, y in zip(got, exp))


# ---- workloads -------------------------------------------------------------

class Run:
    def __init__(self, a, launch, work):
        self.a, self.launch, self.work = a, launch, work
        self.cores = os.cpu_count() or 1
        self.attempted = 0
        self.failed = 0
        self.aliases = {}          # the workload's own metric names

    def start_jvm(self, extra):
        return jvm(self.launch, self.work, self.a.workload, self.a.seconds,
                   self.a.trace, self.cores, extra)

    def probe_inputs(self, extra):
        """Inputs of the layer probes every traced run makes: the parse
        probe's lines and the curation corpus."""
        if self.a.trace:
            lines, kind, _ = gen.access_log(self.a.seed + 7, MICRO_LINES)
            gen.write_lines(f"{self.work}/micro.log", lines)
            extra["micro"] = f"{self.work}/micro.log"
            self.micro_expected = (int((kind == 1).sum()), int((kind == 2).sum()))
            if "corpus" not in extra:
                extra["corpus"] = corpus(self.a.seed, self.work)


def corpus(seed, work):
    """The curation corpus: the sf0.1-sized tables, then a seeded sample."""
    gen.corpus(CORPUS_SEED, f"{work}/corpus_full", 5000, 2000)
    gen.sample_corpus(seed, f"{work}/corpus_full", f"{work}/corpus", CORPUS_SAMPLE)
    return f"{work}/corpus"


def run_stream(r):
    a, work = r.a, r.work
    paced_steady = int(round(STREAM_RATE * a.seconds))
    warm = int(STREAM_RATE * STREAM_WARM_S)
    flood = int(STREAM_FLOOD_PER_S * a.seconds)
    total = warm + paced_steady + flood
    lines, kind, expected = gen.access_log(a.seed, total)
    data = gen.encode(gen.syslog_wrap(lines))
    with open(f"{work}/stream.bin", "wb") as f:
        f.write(data)
    lens = np.frombuffer(data, dtype=np.uint8) == 10
    offsets = np.concatenate([[0], np.nonzero(lens)[0] + 1]).astype(np.int64)
    np.save(f"{work}/stream_offsets.npy", offsets)
    exp_sums = expected_checksums(expected)
    extra = {}
    r.probe_inputs(extra)
    # JIT warm-up input: the same pipeline runs as a batch job before the
    # query starts
    prewarm, _, _ = gen.access_log(a.seed + 11, 100_000)
    gen.write_lines(f"{work}/prewarm.log", gen.syslog_wrap(prewarm))
    port_file, plan, stats = f"{work}/port", f"{work}/plan.txt", f"{work}/loadgen.json"
    loadgen = spawn([
        sys.executable, os.path.join(HERE, "loadgen.py"), "--data", f"{work}/stream.bin",
        "--offsets", f"{work}/stream_offsets.npy", "--warm", str(warm),
        "--steady", str(paced_steady), "--rate", str(STREAM_RATE),
        "--port-file", port_file, "--go", f"{work}/go", "--plan", plan, "--stats", stats])
    deadline = time.time() + 30
    while not os.path.exists(port_file):
        if time.time() > deadline:
            die("load generator did not start")
        time.sleep(0.01)
    extra.update(port=open(port_file).read().strip(), lines=total, plan=plan,
                 go=f"{work}/go", prewarm=f"{work}/prewarm.log")
    p = r.start_jvm(extra)
    wait_jvm(p)
    loadgen.wait(30)
    res = json.load(open(f"{work}/result.json"))
    ls = json.load(open(stats))
    x = res["extra"]
    plan_kv = dict(l.split("=", 1) for l in open(plan).read().split())
    t_start = float(plan_kv["t_start_ms"])

    prog = sorted(x["progress"], key=lambda b: b["end"])
    ends = np.array([b["end"] for b in prog], dtype=np.int64)
    recv = np.array([b["recv_ms"] for b in prog], dtype=float)

    def commit_ms(idx):
        """When each line index was committed (progress event receipt);
        NaN for a line no micro-batch committed."""
        pos = np.searchsorted(ends, idx, side="right")
        out = np.full(len(idx), np.nan)
        ok = pos < len(ends)
        out[ok] = recv[pos[ok]]
        return out

    idx = np.arange(warm, warm + paced_steady)
    fresh = commit_ms(idx) - (t_start + idx * 1000.0 / STREAM_RATE)
    committed = ~np.isnan(fresh)
    if a.trace:
        # traced windows alternate with untraced ones (see Main.stream)
        due = t_start + idx * 1000.0 / STREAM_RATE
        on = ((due - x["steady_start_ms"]) // x["trace_window_ms"]) % 2 == 1
        untraced, traced = fresh[~on & committed], fresh[on & committed]
    else:
        untraced, traced = fresh[committed], fresh[committed]
    # the flood drains when its last committed line commits; lines never
    # committed count as failed below
    done = int(ends[-1]) if len(ends) else 0
    flood_done = max(0, min(total, done) - (warm + paced_steady))
    flood_ms = (recv[-1] if len(recv) else np.nan) - ls["flood_start_ms"]
    drain = flood_done / (flood_ms / 1000.0)

    # correctness: every line read, every good line committed and typed
    r.attempted = total
    read = int(sum(b["rows"] for b in prog))
    r.failed += abs(total - ls["lines_sent"]) + abs(total - read)
    if done < total:
        log(f"{total - done} lines were never committed")
    con = duck()
    r.failed += ingest_failures(con, f"{x['output']}/*/*.parquet", exp_sums, total, hive=True)
    if "query_failure" in x:
        log(f"stream query failed: {x['query_failure']}")
        r.failed = total
    r.failed = min(r.failed, total)
    if not len(untraced):
        die("no paced line was committed")
    r.aliases = {"stream_freshness_p50_ms": pct(untraced, 50),
                 "stream_freshness_p95_ms": pct(untraced, 95),
                 "stream_drain_lines_per_s": drain, "freshness_samples": len(untraced)}
    e2e = {"latency_p50_ms": pct(untraced, 50), "latency_tail_ms": pct(untraced, 95),
           "throughput_per_s": drain}
    layers = {}
    if a.trace:
        def traced_at(t):
            return t >= x["steady_end_ms"] or (t >= x["steady_start_ms"] and (
                (t - x["steady_start_ms"]) // x["trace_window_ms"]) % 2 == 1)

        traced_b = [b for b in prog if traced_at(b["trigger_ms"]) and b["rows"] > 0]

        def sent_by(t):
            paced = warm + paced_steady
            if t < ls["flood_start_ms"]:
                return min(paced, int((t - t_start) * STREAM_RATE / 1000.0) + 1)
            marks = [m for m in ls["flood_marks"] if m[0] <= t]
            return marks[-1][1] if marks else paced

        steady_b = [b for b in prog if b["recv_ms"] >= t_start + warm * 1000.0 / STREAM_RATE]
        # Spark times the trigger phases whether or not the benchmark
        # traces, so they average over every micro-batch of the measured
        # window; the mean, because the phases are whole milliseconds and
        # often 0 or 1
        measured_b = [b for b in prog if b["trigger_ms"] >= x["steady_start_ms"] and b["rows"] > 0]
        dur = lambda k: statistics.fmean(  # noqa: E731
            [b["durations"].get(k, 0) for b in measured_b] or [0])
        layers.update({
            "loadgen.late_ms_max": ls["late_ms_max"],
            "loadgen.lines_sent": ls["lines_sent"],
            "sources.lines_read": read,
            "sources.backlog_lines_max": max(
                [max(0, sent_by(b["recv_ms"]) - b["end"]) for b in steady_b] or [0]),
            "streaming.batches": len(measured_b),
            "streaming.wal_commit_ms": dur("walCommit"),
            "streaming.query_planning_ms": dur("queryPlanning"),
            "streaming.add_batch_ms": dur("addBatch"),
            "streaming.commit_offsets_ms": dur("commitOffsets"),
            "sink.parquet_ms": dur("addBatch"),
            "sink.bytes_written": x["bytes_written"],
            "sink.files_written": x["files_written"],
        })
        c = res["counters"]
        # each micro-batch is one single-stage job
        layers["streaming.input_partitions_per_batch"] = \
            c["tasks"] / c["jobs"] if c["jobs"] else 0.0
        layers.update(trace_layers(res, max(1, len(traced_b)), stream=True))
        layers.update(overhead(median(untraced), median(traced)))
    return res, e2e, layers


def passes(res, traced):
    return [u["ms"] for u in res["units"] if u["traced"] == traced]


def run_batch(r):
    a, work = r.a, r.work
    lines, kind, expected = gen.access_log(a.seed, BATCH_LINES)
    gen.write_split(f"{work}/input", lines, r.cores)
    input_bytes = sum(os.path.getsize(os.path.join(f"{work}/input", f))
                      for f in os.listdir(f"{work}/input"))
    exp_sums = expected_checksums(expected)
    n_reject = int((kind != 0).sum())
    extra = {"input": f"{work}/input"}
    r.probe_inputs(extra)
    wait_jvm(r.start_jvm(extra))
    res = json.load(open(f"{work}/result.json"))
    base = res["extra"]["base"]
    con = duck()
    for u in res["units"]:
        r.attempted += BATCH_LINES
        f = ingest_failures(con, f"{base}/out-{u['tag']}/*.parquet", exp_sums, BATCH_LINES)
        dl = count_lines(f"{base}/dl-{u['tag']}")
        r.failed += min(BATCH_LINES, f + abs(dl - n_reject))
    untraced = passes(res, False)
    e2e = {"latency_p50_ms": median(untraced), "latency_tail_ms": pct(untraced, 90),
           "throughput_per_s": BATCH_LINES / (median(untraced) / 1000.0)}
    r.aliases = {"batch_lines_per_s": e2e["throughput_per_s"], "passes": len(untraced)}
    layers = {}
    if a.trace:
        tr = [u for u in res["units"] if u["traced"]]
        n = max(1, len(tr))
        c = res["counters"]
        layers.update({
            "sink.parquet_ms": c["parquet_write_ms"] / n,
            "sink.bytes_written": median([u["bytes_written"] for u in tr]),
            "sink.files_written": median([u["files_written"] for u in tr]),
            "spark.input_bytes_per_input_byte": c["input_bytes"] / (n * input_bytes),
        })
        layers.update(trace_layers(res, n))
        layers.update(overhead(median(untraced), median(passes(res, True))))
    return res, e2e, layers


def run_dashboard(r):
    a, work = r.a, r.work
    lines, kind, expected = gen.access_log(a.seed, DASH_LINES)
    gen.write_split(f"{work}/input", lines, r.cores)
    input_bytes = sum(os.path.getsize(os.path.join(f"{work}/input", f))
                      for f in os.listdir(f"{work}/input"))
    gen.tables(a.seed, f"{work}/tables", DASH_SF)
    exp_sums = expected_checksums(expected)
    # the warm-up refreshes the same dashboard, so its statements are the
    # first rounds of the list; timing starts after them
    n_warm = DASH_WARM_ROUNDS * len(dashboard.TEMPLATES)
    stmts = dashboard.statements(a.seed, DASH_WARM_ROUNDS + 300)
    warm, stmts = stmts[:n_warm], stmts[n_warm:]
    for path, lst in ((f"{work}/warmup.tsv", warm), (f"{work}/statements.tsv", stmts)):
        with open(path, "w") as f:
            f.writelines(f"{t}\t{ch}\n" for t, ch, _ in lst)
    extra = {"input": f"{work}/input", "tables": f"{work}/tables",
             "warmup": f"{work}/warmup.tsv", "statements": f"{work}/statements.tsv",
             "cycle": len(dashboard.TEMPLATES)}
    r.probe_inputs(extra)
    os.makedirs(f"{work}/dash", exist_ok=True)
    wait_jvm(r.start_jvm(extra))
    res = json.load(open(f"{work}/result.json"))
    x = res["extra"]
    con = duck()
    # the dashboard's table must itself be a correct ingest
    setup_failed = ingest_failures(con, f"{x['access_log']}/*.parquet", exp_sums, DASH_LINES)
    con.sql(f"CREATE VIEW access_log AS SELECT * FROM read_parquet('{x['access_log']}/*.parquet')")
    for t in ("events", "orders", "lineitem", "customer", "nation"):
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{work}/tables/{t}.parquet'")
    oracle_cache, wrong = {}, set()
    with open(f"{work}/dash/results.jsonl") as f:
        for line in f:
            got = json.loads(line)
            _, _, duck_sql = stmts[got["index"]]
            if duck_sql not in oracle_cache:
                oracle_cache[duck_sql] = con.sql(duck_sql).fetchall()
            if not same_rows(got["rows"], oracle_cache[duck_sql]):
                log(f"statement {got['index']} ({stmts[got['index']][0]}) differs from DuckDB")
                wrong.add(got["index"])
    units = res["units"]
    r.attempted = len(units)
    r.failed = sum(1 for u in units if u["index"] in wrong)
    if setup_failed:
        log(f"access_log ingest lost or mis-typed {setup_failed} lines")
        r.failed = r.attempted
    # statement latency over whole refresh rounds (every template once per
    # round); an odd template count keeps p50 inside one template's times
    stmt = [u["ms"] for u in units if not u["traced"]]
    traced_stmt = [u["ms"] for u in units if u["traced"]]
    span_s = (units[-1]["start_ms"] + units[-1]["ms"] - units[0]["start_ms"]) / 1000
    e2e = {"latency_p50_ms": pct(stmt, 50), "latency_tail_ms": pct(stmt, 90),
           "throughput_per_s": len(units) / span_s}
    per_template = {t: median([u["ms"] for u in units if u["template"] == t and not u["traced"]])
                    for t in sorted({u["template"] for u in units})}
    r.aliases = {"dash_latency_p50_ms": e2e["latency_p50_ms"],
                 "dash_latency_p90_ms": e2e["latency_tail_ms"], "statements": len(stmt),
                 "beyond_p90": sum(1 for v in stmt if v > e2e["latency_tail_ms"]),
                 "dash_refresh_ms": sum(per_template.values()),
                 "template_median_ms": per_template}
    layers = {}
    if a.trace:
        tr = [u for u in units if u["traced"]]
        n = max(1, len(tr))
        rewrites = [s["end"] - s["start"] for s in res["spans"] if s["name"] == "plans.rewrite"]
        layers.update({
            "plans.rewrite_ms": median(rewrites),
            "sink.parquet_ms": x["setup_parquet_ms"],
            # the set-up ingest reads its input once per action
            "spark.input_bytes_per_input_byte": x["setup_input_bytes_read"] / input_bytes,
            "sink.bytes_written": x["bytes_written"],
            "sink.files_written": x["files_written"],
        })
        layers.update(trace_layers(res, n))
        layers.update(overhead(median(stmt), median(traced_stmt)))
    return res, e2e, layers


CURATION = ["p03_quality_curation_pipeline", "s07_ann_ivfpq", "d03_minhash_neardups",
            "t18_bpe_tokenize", "d22_paragraph_dedup"]


def run_curation(r):
    a, work = r.a, r.work
    extra = {"corpus": corpus(a.seed, work)}
    r.probe_inputs(extra)
    wait_jvm(r.start_jvm(extra))
    res = json.load(open(f"{work}/result.json"))
    con = duck()
    for t in ("documents", "embeddings"):
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{work}/corpus/{t}.parquet'")
    bad = 0
    with open(f"{work}/curation_results.jsonl") as f:
        for line in f:
            got = json.loads(line)
            if got["oracle"]:
                cols = got["columns"]
                exp = con.sql(got["oracle"])
                order = sorted(range(len(cols)), key=lambda i: cols[i])
                ecols = exp.columns
                eorder = sorted(range(len(ecols)), key=lambda i: ecols[i])
                ok = sorted(cols) == sorted(ecols) and same_rows(
                    [[row[i] for i in order] for row in got["rows"]],
                    [[row[i] for i in eorder] for row in exp.fetchall()], ordered=False)
            else:
                flags = [i for i, c in enumerate(got["columns"])
                         if c == "pass" or c.endswith("in_bound")]
                ok = bool(got["rows"]) and bool(flags) and all(
                    row[i] is True for row in got["rows"] for i in flags)
            if not ok:
                log(f"{got['name']} output check failed")
                bad += 1
    units = res["units"]
    r.attempted = len(CURATION) * (len(units) + 1)
    r.failed = bad * (len(units) + 1)
    untraced = passes(res, False)
    e2e = {"latency_p50_ms": median(untraced), "latency_tail_ms": pct(untraced, 90),
           "throughput_per_s": len(CURATION) / (median(untraced) / 1000.0)}
    r.aliases = {"curation_pass_s": median(untraced) / 1000.0, "passes": len(untraced),
                 "pipeline_median_ms": {n: median([u["pipeline_ms"][n] for u in units])
                                        for n in CURATION}}
    layers = {}
    if a.trace:
        tr = [u for u in units if u["traced"]]
        layers["queries.build_ms"] = median([u["build_ms"] for u in tr])
        layers.update(trace_layers(res, max(1, len(tr))))
        layers.update(overhead(median(untraced), median(passes(res, True))))
    return res, e2e, layers


# ---- per-layer figures from the trace --------------------------------------

LAYERS = ["bench", "plans", "sink", "streaming", "spark"]


def trace_layers(res, n_units, stream=False):
    """Listener totals per traced unit, driver gap and self time per layer."""
    c = res["counters"]
    out = {
        "spark.jobs": c["jobs"] / n_units,
        "spark.stages": c["stages"] / n_units,
        "spark.tasks": c["tasks"] / n_units,
        "spark.task_run_ms": c["task_run_ms"] / n_units,
        "spark.task_cpu_ms": c["task_cpu_ms"] / n_units,
        "spark.gc_ms": c["gc_ms"] / n_units,
        "spark.shuffle_write_bytes": c["shuffle_write_bytes"] / n_units,
        "spark.shuffle_read_bytes": c["shuffle_read_bytes"] / n_units,
        "spark.spill_bytes": c["spill_bytes"] / n_units,
        "plans.analysis_ms": c["analysis_ms"] / n_units,
        "plans.optimization_ms": c["optimization_ms"] / n_units,
        "plans.planning_ms": c["planning_ms"] / n_units,
    }
    spans = res["spans"]
    by_trace = {}
    for s in spans:
        by_trace.setdefault(s["trace"], []).append(s)
    roots = {"bench.pass", "bench.statement", "streaming.trigger"}
    gaps, self_ms = [], {k: 0.0 for k in LAYERS}
    for trace, group in by_trace.items():
        root = [s for s in group if s["parent"] == 0 and s["name"] in roots]
        if not root:
            continue
        root = root[0]
        if stream:
            # micro-batch jobs carry no benchmark span: attach each to the
            # phase span it ran in
            phases = [s for s in group if s["parent"] == root["id"]]
            for s in group:
                if s["name"] == "spark.job" and s["parent"] == 0:
                    inside = [p for p in phases if p["start"] <= s["start"] <= p["end"]]
                    s["parent"] = (inside[0] if inside else root)["id"]
        jobs = [(max(s["start"], root["start"]), min(s["end"], root["end"]))
                for s in group if s["name"] == "spark.job"]
        gaps.append((root["end"] - root["start"]) - interval_union(
            [j for j in jobs if j[1] > j[0]]))
        children = {}
        for s in group:
            children.setdefault(s["parent"], []).append(s)
        for s in group:
            kids = [(max(k["start"], s["start"]), min(k["end"], s["end"]))
                    for k in children.get(s["id"], [])]
            own = (s["end"] - s["start"]) - interval_union([k for k in kids if k[1] > k[0]])
            layer = s["name"].split(".")[0]
            if layer in self_ms:
                self_ms[layer] += max(0.0, own)
    out["spark.driver_gap_ms"] = median(gaps)
    for k in LAYERS:
        out[f"self_ms.{k}"] = self_ms[k] / n_units
    return out


def cpu_reference():
    """Median time (ms) of a fixed single-threaded loop: how fast the host
    ran just before and just after the run, in the same units each time."""
    times = []
    for _ in range(5):
        t = time.perf_counter()
        x = 0
        for i in range(300_000):
            x += i
        times.append((time.perf_counter() - t) * 1000.0)
    return statistics.median(times)


def steal_pct(cpu_stat):
    """Share of CPU time the hypervisor stole between two `/proc/stat`
    readings (the measured window)."""
    d = [b - a for a, b in zip(cpu_stat[0], cpu_stat[-1])]
    return 100.0 * d[7] / sum(d) if len(d) > 7 and sum(d) else 0.0


def overhead(untraced_ms, traced_ms):
    return {"trace.overhead_ms": traced_ms - untraced_ms,
            "trace.overhead_pct": 100.0 * (traced_ms - untraced_ms) / untraced_ms
            if untraced_ms else 0.0}


RUNNERS = {"ingest_stream": run_stream, "ingest_batch": run_batch,
           "ch_dashboard": run_dashboard, "curation": run_curation}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    for need in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(ROOT, need)):
            die(f"the program's sources are missing ({need}); run from a full checkout")
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    launch = build()
    ref_before = cpu_reference()

    global T0
    t0 = T0 = time.time()
    work = os.path.join(HERE, ".work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(3))
    r = Run(a, launch, work)
    try:
        res, e2e, layers = RUNNERS[a.workload](r)
    finally:
        reap()
    layers["host.cpu_ref_ms"] = r.aliases["cpu_ref_ms"] = (ref_before + cpu_reference()) / 2
    log(f"checks done after {time.time() - t0:.1f} s; measuring began after "
        f"{res['measure_start_ms'] / 1000.0 - t0:.1f} s")
    e2e["setup_s"] = res["measure_start_ms"] / 1000.0 - t0
    layers["jvm.peak_rss_mb"] = r.aliases["peak_rss_mb"] = res["peak_rss_kb"] / 1024.0
    layers["host.steal_pct"] = r.aliases["steal_pct"] = steal_pct(res["cpu_stat"])
    r.aliases["steal_suspect"] = r.aliases["steal_pct"] > STEAL_WARN_PCT
    if r.aliases["steal_suspect"]:
        log(f"the hypervisor took {r.aliases['steal_pct']:.1f}% of CPU time during the "
            "measured window; this run's timings are suspect")
    if a.trace:
        mb = res["extra"]["microbench"]
        layers.update({
            "pipeline.extract_lines_per_s_core": mb["lines"] / mb["extract_s"],
            "pipeline.parse_cast_lines_per_s_core": mb["lines"] / mb["parse_cast_s"],
            "pipeline.rejected_no_match": mb["rejected_no_match"],
            "pipeline.rejected_cast": mb["rejected_cast"],
        })
        if (mb["rejected_no_match"], mb["rejected_cast"]) != r.micro_expected:
            log(f"parse probe rejects {mb['rejected_no_match']}/{mb['rejected_cast']} "
                f"differ from the generator's {r.micro_expected}")
            r.failed += 1
            r.attempted += 1
        if "queries_probe" in res["extra"]:
            layers["queries.build_ms"] = sum(res["extra"]["queries_probe"].values())
    if r.failed == 0:
        shutil.rmtree(work, ignore_errors=True)
    else:
        log(f"outputs kept for inspection in {work}")

    if a.trace:
        wanted = [m["name"] for m in spec["per_layer"]]
        values = {k: layers.get(k, 0.0) for k in wanted}
    else:
        wanted = [m["name"] for m in spec["end_to_end"]]
        values = {k: e2e[k] for k in wanted}
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    info = {"workload": a.workload, "seed": a.seed, "cores": r.cores,
            "error_ratio": r.failed / max(1, r.attempted), **r.aliases}
    print(json.dumps(info), flush=True)
    print(json.dumps({
        "correct": r.failed == 0,
        "attempted": int(r.attempted),
        "failed": int(r.failed),
        "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in values.items()},
    }), flush=True)
    if r.failed:
        sys.exit(1)


if __name__ == "__main__":
    main()
