#!/usr/bin/env python3
"""Served-path benchmark: DuckDB-dialect statements over Arrow Flight.

    python3 perfbench/run.py --workload micro|analytic --seed N \
        --seconds S --trace 0|1
    python3 perfbench/run.py --gate        # every oracle text once, named failures
    python3 perfbench/run.py --selftest    # the benchmark's own tests

Run from the repository root. The first run builds the program from source
(sbt compile), compiles java/BenchJvm.java, writes the datasets with
gendata.py and dumps the oracle texts; everything lands in $CARGO_TARGET_DIR
(default .bench_build) and is reused while the sources are unchanged.

--trace 0: the server JVM is launched the way graft.Serve launches it and one
client process drives it. The warm-up sends its decks from nproc threads, one
Flight connection each, so that the cold pass (code generation, JIT) is
spread over the cores; the timed window is a closed loop of TIMED_CLIENTS
connection(s), each sending its next statement only when the previous one
has completed. The last stdout line is the result JSON with every
end-to-end metric; the line before it is the run record (versions, load,
client CPU, named failures).

--trace 1: BenchJvm replays the workload's statements one at a time
through each layer's public entry point and records one span per layer
boundary; the last line carries every per-layer metric.
"""
import argparse
import hashlib
import json
import math
import os
import random
import re
import resource
import shutil
import signal
import socket
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import stats  # noqa: E402
import workloads  # noqa: E402

WORKLOADS = ("micro", "analytic")
READY_TIMEOUT_S = 150
# results this small are each checked against DuckDB; larger ones are
# checked once per distinct text, and repeats must match that row count
SMALL_ROWS = 2000
# statements the traced run replays per workload
TRACE_STATEMENTS = {"micro": 6, "analytic": 4}
# declared DataFrame queries the traced run times per workload
TRACE_OPERATORS = 2


class BenchError(Exception):
    pass


def log(msg):
    print(msg, file=sys.stderr, flush=True)


# ---- build -----------------------------------------------------------------

def source_files(root):
    files = [os.path.join(root, "build.sbt"),
             os.path.join(root, "project", "build.properties")]
    for base in (os.path.join(root, "src", "main"),):
        for d, _, fs in os.walk(base):
            files.extend(os.path.join(d, f) for f in fs)
    files.append(os.path.join(HERE, "java", "BenchJvm.java"))
    files.append(os.path.join(HERE, "gendata.py"))
    return sorted(files)


def source_digest(root):
    h = hashlib.sha256()
    for f in source_files(root):
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build_settings(root):
    """Spark jar directory, scala binary version and the JVM flags build.sbt
    gives forked runs (its default heap, not the environment override)."""
    text = open(os.path.join(root, "build.sbt")).read()
    jars = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', text)
    scala = re.search(r'scalaVersion\s*:=\s*"(\d+\.\d+)', text)
    opens = re.findall(r'"(java\.base/[\w./]+)"', text)
    heap = re.search(r'-Xmx\$\{sys\.env\.getOrElse\("\w+", "(\w+)"\)', text)
    if not (jars and scala and opens and heap):
        raise BenchError("build.sbt: cannot find unmanagedBase, scalaVersion, -Xmx or --add-opens")
    flags = [f for p in opens for f in ("--add-opens", f"{p}=ALL-UNNAMED")]
    flags += re.findall(r'"(-Dspark\.[\w.]+=[^"]+)"', text)
    flags.append(f"-Xmx{heap.group(1)}")
    return jars.group(1), f"scala-{scala.group(1)}", flags


def sbt_env(tmp):
    """Offline sbt, as the repository's own test command runs it, with its
    temporary files kept in `tmp`."""
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = env.get("SBT_OPTS", "").split()
    if not opts:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts + [f"-Djava.io.tmpdir={tmp}"])
    return env


class Build:
    """Paths and commands of one checkout's build."""

    def __init__(self, root):
        self.root = root
        self.dir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or
                                   os.path.join(root, ".bench_build"))
        self.jars, self.scala, self.jvm_flags = build_settings(root)
        self.classes = os.path.join(root, "target", self.scala, "classes")
        self.jcls = os.path.join(self.dir, "jcls")
        self.oracle_json = os.path.join(self.dir, "oracle.json")

    def data(self, sf):
        return os.path.join(self.dir, "data", f"sf{sf}")

    def classpath(self):
        return f"{self.jcls}:{self.classes}:{self.jars}/*"

    def java(self, main, args):
        # -XX:-UsePerfData: the JVM would otherwise keep a file under /tmp
        return (["java", "-cp", self.classpath()] + self.jvm_flags +
                ["-XX:-UsePerfData", f"-Djava.io.tmpdir={self.tmp()}", main] + list(args))

    def tmp(self):
        d = os.path.join(self.dir, "tmp")
        os.makedirs(d, exist_ok=True)
        return d

    def jvm_env(self, **extra):
        env = dict(os.environ, SPARK_LOCAL_DIRS=self.tmp(),
                   SPARK_GRAFT_CPUS=str(os.cpu_count()))
        env.update({k: str(v) for k, v in extra.items()})
        return env

    def ensure(self):
        stamp = os.path.join(self.dir, "build.stamp")
        digest = source_digest(self.root)
        if os.path.exists(stamp) and open(stamp).read() == digest:
            return
        os.makedirs(self.dir, exist_ok=True)
        logs = os.path.join(self.dir, "logs")
        os.makedirs(logs, exist_ok=True)
        t0 = time.time()
        with open(os.path.join(logs, "sbt.log"), "w") as out:
            r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                               cwd=self.root, env=sbt_env(self.tmp()), stdout=out, stderr=subprocess.STDOUT)
        if r.returncode != 0:
            raise BenchError(f"sbt compile failed, see {logs}/sbt.log")
        shutil.rmtree(self.jcls, ignore_errors=True)
        os.makedirs(self.jcls)
        r = subprocess.run(["javac", "-encoding", "UTF-8", "-nowarn", "-cp",
                            f"{self.classes}:{self.jars}/*", "-d", self.jcls,
                            os.path.join(HERE, "java", "BenchJvm.java")],
                           capture_output=True, text=True)
        if r.returncode != 0:
            raise BenchError("javac failed:\n" + r.stderr[-2000:])
        import gendata
        for sf in sorted(set(workloads.SCALE.values())):
            gendata.generate(self.data(sf), sf)
        work = self.workdir("oracle")
        with open(os.path.join(logs, "oracle.log"), "w") as err:
            r = subprocess.run(self.java("BenchJvm", ["oracle", self.data(0.01), self.oracle_json]),
                               cwd=work, env=self.jvm_env(), stdout=err, stderr=subprocess.STDOUT)
        if r.returncode != 0:
            raise BenchError(f"oracle dump failed, see {logs}/oracle.log")
        with open(stamp, "w") as f:
            f.write(digest)
        log(f"[build] done in {time.time() - t0:.1f} s")

    def workdir(self, name):
        d = os.path.join(self.dir, "work", name)
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
        return d


# ---- server ------------------------------------------------------------------

def free_port():
    with socket.socket() as s:
        s.bind(("localhost", 0))
        return s.getsockname()[1]


class Server:
    """graft.Serve in its own JVM, through BenchJvm's serve mode (which adds
    the retained-heap probe); set-up ends at the first SELECT 1."""

    def __init__(self, build, data_dir):
        self.build, self.data_dir = build, data_dir
        self.port = free_port()
        self.work = build.workdir("server")
        self.proc = None

    def start(self):
        from pyarrow import flight
        import flightsql
        env = self.build.jvm_env(SPARK_GRAFT_FLIGHT_PORT=self.port,
                                 SPARK_GRAFT_THRIFT_PORT=free_port())
        self.out = open(os.path.join(self.work, "server.log"), "w")
        self.heap_trigger = os.path.join(self.work, "heap.trigger")
        self.heap_out = os.path.join(self.work, "heap.mb")
        t0 = time.perf_counter()
        self.proc = subprocess.Popen(self.build.java("BenchJvm", [
            "serve", self.heap_trigger, self.heap_out, self.data_dir]),
                                     cwd=self.work, env=env, stdout=self.out,
                                     stderr=subprocess.STDOUT)
        opts = flight.FlightCallOptions(timeout=5)
        while True:
            if self.proc.poll() is not None:
                raise BenchError(f"server exited with {self.proc.returncode}, "
                                 f"see {self.work}/server.log")
            if time.perf_counter() - t0 > READY_TIMEOUT_S:
                raise BenchError("server not ready in time")
            # a fresh client per attempt: a gRPC channel that failed to
            # connect backs off for seconds before it retries
            client = flight.FlightClient(f"grpc://localhost:{self.port}")
            try:
                if flightsql.plain(client, "SELECT 1 AS a", opts).table.num_rows == 1:
                    break
            except Exception:
                time.sleep(0.02)
            finally:
                client.close()
        self.setup_s = time.perf_counter() - t0
        return self

    def memory_mb(self, field):
        """VmRSS (resident now) or VmHWM (peak resident) of the server."""
        with open(f"/proc/{self.proc.pid}/status") as f:
            for line in f:
                if line.startswith(field + ":"):
                    return int(line.split()[1]) / 1024.0
        raise BenchError(f"no {field} for the server")

    def retained_heap_mb(self, timeout_s=60):
        """Java heap in use right after full collections (BenchJvm serve)."""
        open(self.heap_trigger, "w").close()
        t0 = time.perf_counter()
        while not os.path.exists(self.heap_out):
            if time.perf_counter() - t0 > timeout_s:
                raise BenchError("the server's heap probe did not answer")
            time.sleep(0.05)
        return float(open(self.heap_out).read())

    def sample_rss(self, stop, out, period_s=0.1):
        """Append the server's VmRSS to `out` every period until `stop` is set."""
        while not stop.wait(period_s):
            out.append(self.memory_mb("VmRSS"))

    def stop(self):
        if self.proc and self.proc.poll() is None:
            self.proc.terminate()
            try:
                self.proc.wait(20)
            except subprocess.TimeoutExpired:
                self.proc.kill()
                self.proc.wait()
        if self.proc:
            self.out.close()


# ---- load ----------------------------------------------------------------------

class Loop:
    """Closed loop: n clients pull statements from one seeded stream.

    A statement carries its deck number. After the deadline a client takes
    no new statement, except that with whole_decks the clients first finish
    the deck in progress and the first min_decks decks, so that the run
    covers the workload's exact mix (the analytic texts' result sizes differ
    by orders of magnitude) and never fewer than min_decks decks."""

    def __init__(self, port, stmts, clients, limit_ms, whole_decks=True, min_decks=1):
        self.port, self.stmts, self.clients = port, stmts, clients
        self.whole_decks, self.min_decks = whole_decks, min_decks
        self.limit_s = limit_ms / 1000.0
        self.lock = threading.Lock()
        self.next = 0
        self.records = []
        self.first = set()  # oracle texts whose full result is already kept

    def _take(self, deadline):
        with self.lock:
            if self.next >= len(self.stmts):
                return None
            s = self.stmts[self.next]
            if time.perf_counter() > deadline and not (self.whole_decks and (
                    s["deck"] < self.min_decks
                    or self.next > 0 and s["deck"] == self.stmts[self.next - 1]["deck"])):
                return None
            self.next += 1
            return s

    def _keep(self, s, rows):
        """Whether check_records needs this result's rows (see SMALL_ROWS)."""
        if rows <= SMALL_ROWS:
            return True
        with self.lock:
            if s["oracle"] in self.first:
                return False
            self.first.add(s["oracle"])
            return True

    def _client(self, deadline):
        from pyarrow import flight
        import flightsql
        client = flight.FlightClient(f"grpc://localhost:{self.port}")
        opts = flight.FlightCallOptions(timeout=self.limit_s)
        try:
            while True:
                s = self._take(deadline)
                if s is None:
                    return
                t0 = time.perf_counter()
                rec = {"stmt": s}
                try:
                    r = flightsql.call(client, s["shape"], s["sql"], s["params"], opts)
                    rec.update(ms=(time.perf_counter() - t0) * 1e3, ttfb_ms=r.ttfb_s * 1e3,
                               bytes=r.bytes, rows=r.table.num_rows, err=None,
                               table=r.table if self._keep(s, r.table.num_rows) else None)
                except Exception as e:
                    rec.update(ms=(time.perf_counter() - t0) * 1e3, ttfb_ms=None, bytes=0,
                               rows=0, table=None,
                               err=f"{type(e).__name__}: {str(e).splitlines()[0][:160]}"
                               if str(e) else type(e).__name__)
                with self.lock:
                    self.records.append(rec)
        finally:
            client.close()

    def run(self, seconds):
        t0 = time.perf_counter()
        deadline = t0 + seconds
        threads = [threading.Thread(target=self._client, args=(deadline,))
                   for _ in range(self.clients)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        return time.perf_counter() - t0


def statements(build, workload, seed, n_decks):
    """n_decks decks of the workload's stream for `seed`, flattened; each
    statement carries its deck number."""
    if workload == "micro":
        decks = workloads.micro(seed, n_decks)
    else:
        decks = workloads.analytic(seed, json.load(open(build.oracle_json)), n_decks)
    return [dict(s, deck=i) for i, deck in enumerate(decks) for s in deck]


# ---- checking --------------------------------------------------------------------

class quiet_stderr:
    """Silence native-library chatter on fd 2 while results are checked."""

    def __enter__(self):
        sys.stderr.flush()
        self.saved = os.dup(2)
        devnull = os.open(os.devnull, os.O_WRONLY)
        os.dup2(devnull, 2)
        os.close(devnull)

    def __exit__(self, *exc):
        os.dup2(self.saved, 2)
        os.close(self.saved)


def check_records(records, oracle):
    """Mark each record ok or failed; a wrong result is a failure. A large
    result whose rows were not kept must have the row count of the checked
    result of the same text."""
    checked = {}
    for rec in sorted(records, key=lambda r: r["table"] is None):
        s = rec["stmt"]
        if rec["err"]:
            rec["ok"] = False
            continue
        if s["check"] == "extensions":
            names = rec["table"].column(0).to_pylist() if rec["table"].num_columns else []
            bad = None if "parquet" in names else f"WRONG extensions {names}"
        elif rec["table"] is not None:
            bad = oracle.check(s["oracle"], rec["table"])
            bad = f"WRONG {bad}" if bad else None
            if not bad:
                checked[s["oracle"]] = rec["rows"]
        else:
            want = checked.get(s["oracle"])
            bad = None if rec["rows"] == want else (
                f"WRONG ROWCOUNT {rec['rows']} (checked result: {want})")
        rec["err"] = bad
        rec["ok"] = bad is None
        rec["table"] = None


# ---- metrics ------------------------------------------------------------------------

def served_metrics(records, wall_s, setup_s, heap_mb, limit_ms):
    lat = stats.charged([(r["stmt"]["key"], r["ms"], r["ok"]) for r in records], limit_ms)
    ttfb = stats.charged([(r["stmt"]["key"], r["ttfb_ms"] or 0.0, r["ok"]) for r in records],
                         limit_ms)
    values = [v for _, v in lat]
    tail, pct, n = stats.tail(values)
    ok = sum(1 for r in records if r["ok"])
    m = {
        "setup_s": (setup_s, "s"),
        "lat_p50_ms": (stats.median(values), "ms"),
        "lat_tail_ms": (tail, "ms"),
        "lat_geomean_ms": (stats.geomean_of_medians(lat), "ms"),
        "ttfb_p50_ms": (stats.median([v for _, v in ttfb]), "ms"),
        "stmts_per_s": (ok / wall_s, "1/s"),
        "result_mb_per_s": (sum(r["bytes"] for r in records if r["ok"]) / 1e6 / wall_s, "MB/s"),
        "ok_share": (ok / len(records), "share"),
        "server_heap_mb": (heap_mb, "MB"),
    }
    extra = {"lat_tail_percentile": pct, "lat_samples": n,
             "fail_share": 1.0 - ok / len(records)}
    return m, extra


def per_key_medians(records, limit_ms):
    by_key = {}
    for k, v in stats.charged([(r["stmt"]["key"], r["ms"], r["ok"]) for r in records], limit_ms):
        by_key.setdefault(k, []).append(v)
    return {k: round(stats.median(v), 3) for k, v in sorted(by_key.items())}


def loadavg():
    return os.getloadavg()[0]


def versions(build):
    import duckdb
    import pyarrow
    spark = sorted(f for f in os.listdir(build.jars) if f.startswith("spark-core_"))
    java = subprocess.run(["java", "-version"], capture_output=True, text=True).stderr
    return {"duckdb": duckdb.__version__, "pyarrow": pyarrow.__version__,
            "spark": spark[0].split("-")[-1][:-4] if spark else "unknown",
            "java": java.splitlines()[0] if java else "unknown"}


def commit(root):
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, capture_output=True,
                           text=True, timeout=10)
        if r.returncode == 0:
            return r.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    return "source-" + source_digest(root)[:16]


def emit(record, metrics, correct, attempted, failed):
    print(json.dumps(record, sort_keys=True))
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))


# ---- the untraced run -------------------------------------------------------------------

# Warm-up before the timed window: COLD_DECKS decks from nproc clients, so
# that the first, cold executions (code generation, class loading) are spread
# over the cores, then statements from the timed clients until WARM_S seconds
# have passed since the first statement. The server keeps speeding up for
# about 20 s whatever it runs (JIT): after two cold decks alone, the first
# single-client decks of micro took 1.3-1.5 times as long as the later ones,
# and with 12 s of warm-up, ten runs of micro split into a fast and a slow
# group 30% apart. analytic gets no second phase: a pass takes 7-11 s, the
# run budget has no room for it, and its three timed passes (MIN_DECKS)
# average the rest of the warm-up out.
COLD_DECKS = {"micro": 2, "analytic": 2}
WARM_S = {"micro": 22.0, "analytic": 0.0}
# decks available to the warm-up and to the timed window
MAX_DECKS = {"micro": 400, "analytic": 30}
# whole decks the timed window covers even past the deadline. One analytic
# pass takes 7-11 s: with one or two passes per run, as a 10 s window gave,
# the tail percentile jumped between runs and one slow pass moved the whole
# run; three passes average over three stretches of the host.
MIN_DECKS = {"micro": 1, "analytic": 3}
# closed-loop clients of the timed window. One: the host has few cores shared
# with other tenants, and with nproc clients each statement's latency mostly
# measured how the clients' statements queued behind each other's tasks
# (spreads up to 0.34 between runs of the same code).
TIMED_CLIENTS = 1


def run_served(build, workload, seed, seconds):
    import check
    limit_ms = workloads.LIMIT_MS[workload]
    sf = workloads.SCALE[workload]
    clients = TIMED_CLIENTS
    load_before = loadavg()
    server = Server(build, build.data(sf))
    try:
        server.start()
        warm = statements(build, workload, seed + 1_000_003, MAX_DECKS[workload])
        cold = [s for s in warm if s["deck"] < COLD_DECKS[workload]]
        cold_s = Loop(server.port, cold, os.cpu_count(), limit_ms).run(math.inf)
        rest = [s for s in warm if s["deck"] >= COLD_DECKS[workload]]
        warm_s = cold_s + Loop(server.port, rest, clients, limit_ms, whole_decks=False).run(
            max(0.0, WARM_S[workload] - cold_s))
        timed = statements(build, workload, seed, MAX_DECKS[workload])
        loop = Loop(server.port, timed, clients, limit_ms, min_decks=MIN_DECKS[workload])
        rss, stop = [], threading.Event()
        sampler = threading.Thread(target=server.sample_rss, args=(stop, rss))
        sampler.start()
        ru0 = resource.getrusage(resource.RUSAGE_SELF)
        try:
            wall = loop.run(seconds)
        finally:
            stop.set()
            sampler.join()
        ru1 = resource.getrusage(resource.RUSAGE_SELF)
        peak_rss = server.memory_mb("VmHWM")
        heap = server.retained_heap_mb()
    finally:
        server.stop()
    load_after = loadavg()
    records = loop.records
    if loop.next >= len(timed):
        raise BenchError("statement stream exhausted before the deadline")
    t_check = time.perf_counter()
    oracle = check.Oracle(build.data(sf))
    with quiet_stderr():
        check_records(records, oracle)
    check_s = time.perf_counter() - t_check
    metrics, extra = served_metrics(records, wall, server.setup_s, heap, limit_ms)
    failures = sorted({(r["stmt"]["key"], r["err"]) for r in records if not r["ok"]})
    for key, err in failures:
        log(f"[fail] {workload} {key}: {err}")
    record = {
        "workload": workload, "seed": seed, "seconds": seconds, "commit": commit(build.root),
        "nproc": os.cpu_count(), "clients": clients, "warmup_clients": os.cpu_count(),
        "loop": "closed",
        "scale_factor": sf, "dataset": os.path.relpath(build.data(sf), build.root),
        "loadavg_1m_before": load_before, "loadavg_1m_after": load_after,
        "client_cpu_s": (ru1.ru_utime - ru0.ru_utime) + (ru1.ru_stime - ru0.ru_stime),
        "wall_s": wall, "warmup_s": warm_s, "check_s": check_s, "decks": len({r["stmt"]["deck"] for r in records}),
        "server_jvm": " ".join(["graft.Serve"] + [
            f for f in build.jvm_flags if not f.startswith("--add-opens") and "=ALL-UNNAMED" not in f]
            + [f"local[{os.cpu_count()}]", "GraftExtensions", "ansi=true"]),
        "versions": versions(build), "limit_ms": limit_ms,
        "failures": [f"{k}: {e}" for k, e in failures], **extra,
        "server_peak_rss_mb": peak_rss, "server_median_rss_mb": stats.median(rss),
        "per_statement_p50_ms": per_key_medians(records, limit_ms),
    }
    for k, (v, u) in metrics.items():
        log(f"[metric] {workload} {k} = {v:.4f} {u}")
    log(f"[metric] {workload} lat_tail_ms is p{extra['lat_tail_percentile']:.2f} "
        f"of {extra['lat_samples']} samples; fail_share = {extra['fail_share']:.4f}")
    save(build, workload, seed, 0, record, metrics)
    # correct: no result differed from DuckDB's; errors and refusals are
    # failures that leave the outputs correct
    wrong = any(r["err"].startswith("WRONG") for r in records if not r["ok"])
    emit(record, metrics, not wrong, len(records), sum(1 for r in records if not r["ok"]))


def save(build, workload, seed, trace, record, metrics):
    d = os.path.join(build.dir, "results")
    os.makedirs(d, exist_ok=True)
    with open(os.path.join(d, f"{workload}-trace{trace}-seed{seed}.json"), "w") as f:
        json.dump({"record": record, "metrics": metrics}, f, indent=1, sort_keys=True)


# ---- the traced run -------------------------------------------------------------------------

def trace_statements(build, workload, seed):
    """The distinct statements the traced run replays, the first ones of the
    workload's stream for `seed`, and the declared DataFrame queries it times."""
    oracle = json.load(open(build.oracle_json))
    n = TRACE_STATEMENTS[workload]
    texts, seen = [], set()
    for s in statements(build, workload, seed, 4):
        if s["shape"] != "prepared" and s["sql"] not in seen and len(texts) < n:
            seen.add(s["sql"])
            texts.append(s)
    if workload == "analytic":
        # the DataFrame twins of the traced texts: the same queries on the
        # path served texts never reach
        ops = [s["key"] for s in texts][:TRACE_OPERATORS]
    else:
        ops = random.Random(seed).sample(workloads.panel(oracle), TRACE_OPERATORS)
    return texts, ops


def run_traced(build, workload, seed):
    texts, ops = trace_statements(build, workload, seed)
    sf = workloads.SCALE[workload]
    work = build.workdir("trace")
    files = {}
    for mode, items in (("served", [s["sql"] for s in texts]), ("ops", ops)):
        files[mode] = os.path.join(work, f"{mode}.stmts")
        with open(files[mode], "w") as f:
            f.write("\x1e".join(items))
    out_json = os.path.join(work, "spans.json")
    with open(os.path.join(work, "trace.log"), "w") as err:
        r = subprocess.run(build.java("BenchJvm", ["trace", build.data(sf), files["served"],
                                                   files["ops"], out_json]),
                           cwd=work, env=build.jvm_env(), stdout=err, stderr=subprocess.STDOUT)
    if r.returncode != 0:
        raise BenchError(f"traced run failed, see {work}/trace.log")
    out = json.load(open(out_json))
    metrics, table = layer_metrics(out["spans"])
    errors = out["errors"]
    last = os.path.join(build.dir, "results")
    untraced = None
    if os.path.isdir(last):
        runs = [json.load(open(os.path.join(last, f))) for f in sorted(os.listdir(last))
                if f.startswith(f"{workload}-trace0-")]
        if runs:
            untraced = stats.median([r["metrics"]["lat_p50_ms"][0] for r in runs])
    self_sum = sum(v for k, v in table.items() if k != "operators")
    log(f"[trace] {workload}: per-layer self time, median ms per statement "
        f"({len(texts)} statements, {len(ops)} DataFrame queries)")
    for k, v in table.items():
        log(f"[trace]   {k:<10} {v:10.3f}")
    log(f"[trace]   sum of served-layer self times {self_sum:.3f} ms")
    if untraced is not None:
        log(f"[trace]   untraced lat_p50_ms {untraced:.3f} ms (median of earlier untraced "
            f"runs in this checkout); gap {untraced - self_sum:+.3f} ms is client, wire and "
            f"queueing time outside the layers")
    else:
        log("[trace]   no untraced run of this workload in this checkout yet: gap not stated")
    for e in errors:
        log(f"[trace-fail] {e}")
    record = {"workload": workload, "seed": seed, "commit": commit(build.root),
              "nproc": os.cpu_count(), "statements": len(texts), "dataframe_queries": ops,
              "self_ms": table, "self_sum_ms": self_sum, "untraced_lat_p50_ms": untraced,
              "errors": errors, "versions": versions(build), "loadavg_1m": loadavg()}
    save(build, workload, seed, 1, record, metrics)
    emit(record, metrics, True, len(texts) + len(ops), len(errors))


def layer_metrics(spans):
    """Per-layer metrics and the self-time table from the recorded spans."""
    by_stmt = {}
    for s in spans:
        by_stmt.setdefault(s["stmt"], {})[s["name"]] = s

    def dur(s):
        return (s["end_ns"] - s["start_ns"]) / 1e6

    col = {k: [] for k in ["dialect.rewrite_ms", "catalyst.parse_ms", "catalyst.analyze_ms",
                           "catalyst.plan_ms", "gateway.sql_ms", "gateway.eager_jobs",
                           "arrow.stream_ms", "arrow.first_batch_ms", "arrow.batches",
                           "arrow.mb", "flight.self_ms", "flight.wire_mb", "operators.query_ms",
                           "exec.jobs", "exec.stages", "exec.tasks", "exec.run_ms",
                           "exec.cpu_ms", "exec.idle_ms", "exec.shuffle_mb", "exec.spill_mb",
                           "exec.peak_mem_mb"]}
    selfs = {k: [] for k in ["dialect", "catalyst", "gateway", "exec", "arrow", "flight",
                             "operators"]}
    for sp in by_stmt.values():
        root = sp["stmt"]
        if root["counts"].get("failed"):
            continue
        if "operators" in sp:
            col["operators.query_ms"].append(dur(sp["operators"]))
            selfs["operators"].append(dur(sp["operators"]))
            continue
        for k in [c for c in col if c.startswith("exec.")]:
            col[k].append(root["counts"].get(k, 0.0))
        d, g, a, f = (dur(sp[n]) for n in ("dialect", "gateway", "arrow", "flight"))
        col["dialect.rewrite_ms"].append(d)
        cat_ok = not any(sp[n]["counts"].get("failed") for n in
                         ("catalyst.parse", "catalyst.analyze", "catalyst.plan") if n in sp)
        parse = analyze = plan = 0.0
        if cat_ok:
            parse, analyze, plan = (dur(sp[n]) for n in
                                    ("catalyst.parse", "catalyst.analyze", "catalyst.plan"))
            col["catalyst.parse_ms"].append(parse)
            col["catalyst.analyze_ms"].append(analyze)
            col["catalyst.plan_ms"].append(plan)
        col["gateway.sql_ms"].append(g)
        col["gateway.eager_jobs"].append(sp["gateway"]["counts"].get("gateway.eager_jobs", 0.0))
        col["arrow.stream_ms"].append(a)
        for k in ("arrow.first_batch_ms", "arrow.batches", "arrow.mb"):
            col[k].append(sp["arrow"]["counts"][k])
        # against the back-to-back repeat that follows it (see BenchJvm)
        repeat = dur(sp["gateway2"]) + dur(sp["arrow2"])
        col["flight.self_ms"].append(f - repeat)
        col["flight.wire_mb"].append(sp["flight"]["counts"]["flight.wire_mb"])
        # self times: the gateway call contains the rewrite, parse and
        # analysis; the arrow drain contains planning and execution
        idle = root["counts"].get("exec.idle_ms", a)
        selfs["dialect"].append(d)
        selfs["catalyst"].append(parse + analyze + plan)
        selfs["gateway"].append(max(0.0, g - d - parse - analyze))
        selfs["exec"].append(max(0.0, a - idle))
        selfs["arrow"].append(max(0.0, idle - plan))
        selfs["flight"].append(f - repeat)
    metrics = {}
    for k, vals in col.items():
        unit = "ms" if k.endswith("_ms") else "MB" if k.endswith("mb") else "count"
        metrics[k] = (stats.median(vals) if vals else 0.0, unit)
    table = {k: (stats.median(v) if v else 0.0) for k, v in selfs.items()}
    return metrics, table


# ---- gate -------------------------------------------------------------------------------------

def run_gate(build):
    """Every oracle text once over Flight at the analytic scale, each failure named."""
    import check
    from pyarrow import flight
    import flightsql
    oracle_sql = json.load(open(build.oracle_json))
    sf = workloads.SCALE["analytic"]
    server = Server(build, build.data(sf))
    fails = []
    try:
        server.start()
        client = flight.FlightClient(f"grpc://localhost:{server.port}")
        orc = check.Oracle(build.data(sf))
        for name in sorted(oracle_sql):
            t0 = time.perf_counter()
            try:
                r = flightsql.plain(client, oracle_sql[name])
                ms = (time.perf_counter() - t0) * 1e3
                with quiet_stderr():
                    bad = orc.check(oracle_sql[name], r.table)
                err = f"WRONG {bad}" if bad else None
            except Exception as e:
                ms = (time.perf_counter() - t0) * 1e3
                err = f"{type(e).__name__}: {str(e).splitlines()[0][:160] if str(e) else ''}"
            print(f"{'FAIL' if err else 'ok  '} {name} {ms:.0f} ms {err or ''}", flush=True)
            if err:
                fails.append(name)
        client.close()
    finally:
        server.stop()
    print(f"{len(oracle_sql) - len(fails)} ok, {len(fails)} fail")


def main():
    # a terminated run still stops the server JVM it started (finally blocks)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--gate", action="store_true")
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if a.selftest:
        import selftest
        sys.exit(selftest.main())
    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "build.sbt")) and
            os.path.isdir(os.path.join(root, "src", "main", "scala"))):
        log("run from the repository root: build.sbt and src/main/scala are missing")
        sys.exit(2)
    try:
        build = Build(root)
        build.ensure()
        shutil.rmtree(build.tmp())  # what earlier JVMs left behind
        if a.gate:
            run_gate(build)
        elif not a.workload:
            ap.error("--workload is required")
        elif a.trace:
            run_traced(build, a.workload, a.seed)
        else:
            run_served(build, a.workload, a.seed, a.seconds)
    except BenchError as e:
        log(f"error: {e}")
        sys.exit(1)


if __name__ == "__main__":
    main()
