"""Governed-query benchmark for strake_spark.

Runs one workload end to end through the engine's public surfaces and
prints, as the last stdout line, one JSON object:

    {"correct": ..., "attempted": N, "failed": F, "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones (set-up time,
latency median and tail, throughput, peak memory); with ``--trace 1``
they are the per-layer ones, from a second, wrapped pass of the same
loop (layers.py). Every result is checked against DuckDB; the process
exits 1 when any operation returned a wrong answer.

    python3 perfbench/run.py --workload agent_mix --seed 1 --seconds 20 --trace 0

Workloads, data sizes and the layer -> metric map: perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import threading
import time
from concurrent.futures import ThreadPoolExecutor

import datagen
import layers
import workloads as W

T0 = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "_work")
SETUP_REPEATS = 3
# Timed engine layers (layers.py); server handlers are timed apart.
ENGINE_LAYERS = (
    "gate.ensure_select", "policies.rewrite", "federation.plan_sql",
    "limits.defensive_limit", "limits.check_cost", "limits.run",
    "reliability.admit_wait", "cache.get", "cache.put",
)


def _environment(run_dir: str) -> None:
    """Everything Spark and its Python workers read at start-up; set
    before the JVM launches."""
    tmp = os.path.join(run_dir, "tmp")
    for d in ("tmp", "spark-local", "warehouse", "cache"):
        os.makedirs(os.path.join(run_dir, d), exist_ok=True)
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(run_dir, "warehouse")
    os.environ["TMPDIR"] = tmp
    # every JVM (the spark-submit launcher too): temp files in the run
    # directory, and no hsperfdata files under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    tempfile.tempdir = tmp


# ------------------------------------------------------------- process tree
def _processes() -> tuple[dict[int, list[int]], dict[int, int]]:
    """(children by parent pid, resident bytes by pid) from /proc."""
    children: dict[int, list[int]] = {}
    rss: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
            with open(f"/proc/{name}/statm") as f:
                pages = int(f.read().split()[1])
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(name))
        rss[int(name)] = pages * os.sysconf("SC_PAGE_SIZE")
    return children, rss


def _descendants(root_pid: int, children: dict[int, list[int]] | None = None) -> list[int]:
    if children is None:
        children, _ = _processes()
    out, todo = [], list(children.get(root_pid, ()))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def _tree_rss_bytes(root_pid: int) -> int:
    children, rss = _processes()
    return rss.get(root_pid, 0) + sum(rss.get(p, 0) for p in _descendants(root_pid, children))


def _adopt_orphans() -> None:
    """Make this process the child subreaper of everything it starts:
    a Python worker whose parent JVM exits is re-parented here, not to
    init, so stop_processes() can wait for it."""
    try:
        import ctypes

        ctypes.CDLL(None, use_errno=True).prctl(36, 1, 0, 0, 0)  # PR_SET_CHILD_SUBREAPER
    except (OSError, AttributeError):
        pass


def stop_processes(timeout: float = 30.0) -> None:
    """End the Spark JVM and wait until every process this run started
    has exited; whatever outlives ``timeout`` is killed, then waited for."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is not None and proc.stdin is not None:
        proc.stdin.close()  # the gateway JVM exits at EOF on its stdin
        try:
            proc.wait(timeout)
        except subprocess.TimeoutExpired:
            pass  # killed below with the rest
    deadline = time.monotonic() + timeout
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return  # no child, running or exited, is left
        if pid:
            continue
        if time.monotonic() > deadline:
            for p in _descendants(os.getpid()):
                try:
                    os.kill(p, signal.SIGKILL)
                except OSError:
                    pass
        time.sleep(0.05)


class PeakRss:
    """Samples the resident memory of this process and all descendants
    (JVM, Python workers) every 250 ms; keeps the peak."""

    def __init__(self) -> None:
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def _loop(self) -> None:
        while not self._stop.wait(0.25):
            self.peak = max(self.peak, _tree_rss_bytes(os.getpid()))

    def stop(self) -> int:
        self._stop.set()
        self._thread.join(timeout=5)
        return self.peak


# -------------------------------------------------------------------- setup
class Setup:
    """Session, engine, sources and servers of one workload. The first
    set-up in a process starts the Spark session; later ones get it back
    from ``build_session`` and repeat everything else."""

    def __init__(self, workload: str, data_dir: str, run_dir: str) -> None:
        import strake_spark as ss
        from strake_spark.session import build_session

        self.sf_dir = os.path.join(data_dir, "sf0.1")
        self.cache_dir = os.path.join(run_dir, "cache")
        self.server = self.fake_pg = None
        self.spark = build_session(
            app_name="perfbench",
            extra_conf={"spark.ui.showConsoleProgress": "false"},
        )
        sources = [{"name": "tpch", "type": "parquet", "url": self.sf_dir,
                    "tables": [{"name": t} for t in W.TPCH_VIEWS.values()]}]
        if workload == "agent_mix":
            cfg = {
                "sources": sources,
                "cache": {"enabled": True, "directory": self.cache_dir},
                "policies": {
                    "roles": {"agent_role": {"tables": W.POLICY_RULES}},
                    "users": {W.AGENT_USER: ["agent_role"]},
                },
            }
        else:
            from strake_spark.inventory._wire_fakes import FakePg

            remote = os.path.join(data_dir, "remote.duckdb")
            self.fake_pg = FakePg(remote, users={"bench": "pw"}, auth_mode="md5", wire_cache={})
            threading.Thread(target=self.fake_pg.serve_forever, daemon=True).start()
            tables = [{"name": "orders"}, {"name": "lineitem"}]
            sources += [
                {"name": "pg", "type": "postgres_wire",
                 "url": f"postgresql://127.0.0.1:{self.fake_pg.server_address[1]}/bench",
                 "username": "bench", "password": "pw", "tables": tables},
                {"name": "dk", "type": "duckdb", "url": remote, "tables": tables},
            ]
            cfg = {"sources": sources}
        self.engine = ss.connect(cfg, spark=self.spark)
        if workload == "agent_mix":
            from strake_spark.server import make_server

            self.server = make_server(self.engine, "grpc://127.0.0.1:0")
            threading.Thread(target=self.server.serve, daemon=True).start()
            self.clients = [ss.connect(f"grpc://127.0.0.1:{self.server.port}") for _ in range(2)]
        else:
            self.clients = [self.engine]

    def reset_caches(self) -> None:
        """Forget result-cache entries and the fake server's rendered
        results, so a second pass starts as cold as the first."""
        for name in os.listdir(self.cache_dir):
            os.unlink(os.path.join(self.cache_dir, name))
        if self.fake_pg is not None:
            self.fake_pg.wire_cache.clear()

    def close(self, stop_spark: bool = True) -> None:
        for c in self.clients:
            if c is not self.engine:
                c.close()
        if self.server is not None:
            self.server.shutdown()
        if self.fake_pg is not None:
            self.fake_pg.shutdown()
            self.fake_pg.server_close()
        if stop_spark:
            self.spark.stop()


# ------------------------------------------------------------------ the loop
class Runner:
    def __init__(self, setup: Setup, answers, trace=None) -> None:
        from strake_spark import inventory

        self.s = setup
        self.answers = answers
        self.trace = trace
        self.entries = inventory.queries()
        self.op_seconds: dict[str, list[float]] = {}
        self.op_jobs = self.op_stages = self.op_shuffle = 0
        self.rows_out = 0
        self.by_template: dict[str, list[float]] = {}
        self._lock = threading.Lock()

    def _operator(self, op):
        """Build the inventory entry's DataFrame and materialize all of
        it; traced, inside its own job group so its jobs can be counted."""
        spark = self.s.spark
        if self.trace is None:
            return self.entries[op.text](spark, self.s.sf_dir).toArrow()
        sc = spark.sparkContext
        group = f"perfbench-{op.text}-{time.perf_counter_ns()}"
        sc.setJobGroup(group, op.text)
        t = time.perf_counter()
        try:
            table = self.entries[op.text](spark, self.s.sf_dir).toArrow()
        finally:
            sc.setJobGroup("", "")
        self.op_seconds.setdefault(op.text, []).append(time.perf_counter() - t)
        tracker = sc.statusTracker()
        store = sc._jsc.sc().statusStore()
        for job in tracker.getJobIdsForGroup(group):
            self.op_jobs += 1
            info = tracker.getJobInfo(job)
            for sid in info.stageIds if info else ():
                self.op_stages += 1
                try:
                    self.op_shuffle += store.lastStageAttempt(sid).shuffleWriteBytes()
                except Exception:  # noqa: BLE001 - a skipped stage has no attempt
                    pass
        return table

    def one(self, client, op) -> tuple[float, bool, str]:
        """Run one operation; (seconds, outcome correct, note)."""
        t = time.perf_counter()
        try:
            if op.kind == "operator":
                result = self._operator(op)
            else:
                result = client.execute(op.text, user=op.user)
            err = None
        except Exception as e:  # noqa: BLE001 - every failure is scored
            result, err = None, e
        dt = time.perf_counter() - t
        return dt, *self._check(op, result, err)

    def _check(self, op, table, err) -> tuple[bool, str]:
        if op.expect.startswith("STRAKE-"):
            got = getattr(getattr(err, "code", None), "as_str", lambda: None)()
            return got == op.expect, f"expected {op.expect}, got {got or err!r}"
        if err is not None:
            return False, f"{type(err).__name__}: {str(err)[:300]}"
        with self._lock:
            self.rows_out += table.num_rows
        ans = self.answers[(op.text, op.user)]
        if op.expect == "limited":
            limit = self.s.engine.config.query_limits.default_limit
            ok = (table.num_rows == min(limit, ans.rows)
                  and [c.lower() for c in table.column_names] == [c.lower() for c in ans.columns])
            return ok, f"limited: {table.num_rows} rows {table.column_names}"
        digest = W.arrow_hash(table)
        return digest == ans.digest, f"digest {digest[:12]} != oracle {ans.digest[:12]}"

    def warm(self, warmup) -> list[str]:
        """Run every warm-up operation once, three at a time: the cold
        costs (first Spark jobs, Python worker start-up, JIT) overlap."""
        pairs = [(c, op) for c, ops in zip(self._clients(len(warmup)), warmup) for op in ops]
        with ThreadPoolExecutor(3) as pool:
            done = list(pool.map(lambda p: (p[1], self.one(*p)), pairs))
        return [f"warm-up {op.template}: {note}" for op, (_, ok, note) in done if not ok]

    def _clients(self, n: int) -> list:
        return self.s.clients if len(self.s.clients) == n else self.s.clients[:1] * n

    def loop(self, sequences) -> tuple[list[float], list[str], float]:
        """Closed loop: one thread per client, each issuing its next
        operation when the previous one returned."""
        lat: list[list[float]] = [[] for _ in sequences]
        errors: list[str] = []

        def client_loop(i, client, ops):
            for op in ops:
                dt, ok, note = self.one(client, op)
                lat[i].append(dt)
                with self._lock:
                    self.by_template.setdefault(op.template, []).append(dt)
                    if not ok:
                        errors.append(f"{op.template}: {note}")

        threads = [
            threading.Thread(target=client_loop, args=(i, c, ops))
            for i, (c, ops) in enumerate(zip(self._clients(len(sequences)), sequences))
        ]
        t = time.perf_counter()
        for th in threads:
            th.start()
        for th in threads:
            th.join()
        return [x for xs in lat for x in xs], errors, time.perf_counter() - t


# ------------------------------------------------------------------ metrics
def tail(samples: list[float]) -> tuple[float, float]:
    """The highest percentile with at least ten samples beyond it:
    (value, percentile)."""
    xs = sorted(samples)
    n = len(xs)
    if n <= 10:
        return xs[-1], 100.0
    return xs[n - 11], 100.0 * (n - 10) / n


def end_to_end(loops, setup_s, peak_rss) -> dict:
    """Latency and throughput are medians over the run's loops."""

    def med(f):
        return statistics.median(f(lat, wall) for lat, _, wall in loops)

    return {
        "setup_s": {"value": setup_s, "unit": "s"},
        "latency_p50_ms": {"value": med(lambda lat, _: statistics.median(lat) * 1000.0), "unit": "ms"},
        "latency_tail_ms": {"value": med(lambda lat, _: tail(lat)[0] * 1000.0), "unit": "ms"},
        "throughput_qps": {"value": med(lambda lat, wall: len(lat) / wall), "unit": "1/s"},
        "peak_rss_mb": {"value": peak_rss / 2**20, "unit": "MB"},
    }


def _wire(fake_pg, start: int) -> tuple[int, int]:
    """(rows, bytes) the fake Postgres server sent for queries issued
    since index ``start``; rendered results are read back from its
    wire cache, whose last message is the ``SELECT <rows>`` tag."""
    rows = nbytes = 0
    if fake_pg is None:
        return 0, 0
    for sql in fake_pg.queries[start:]:
        payload = fake_pg.wire_cache.get(sql)
        if payload is None:
            continue
        nbytes += len(payload)
        rows += int(payload[payload.rindex(b"SELECT ") + 7:].rstrip(b"\0"))
    return rows, nbytes


def accounting(tr, runner, lat_traced, lat_plain) -> dict:
    """How the traced loop's mean latency splits: engine layers, the
    engine envelope, operator runs and, over Flight, the server's own
    remainder and the wire. ``unaccounted_ms`` is what none of them
    covers (closed-loop bookkeeping between operations)."""
    n = len(lat_traced)
    ms = tr.ms
    layers_ms = sum(ms[k] for k in ENGINE_LAYERS)
    envelope = ms["engine.execute"] - tr.covered_ms
    operators = 1000.0 * sum(sum(v) for v in runner.op_seconds.values())
    server = wire = 0.0
    if runner.s.server:
        handlers = ms["server.get_flight_info"] + ms["server.do_get"]
        server = handlers - (layers_ms - tr.covered_ms) - ms["engine.execute"]
        wire = 1000.0 * sum(lat_traced) - handlers
    mean = 1000.0 * sum(lat_traced) / n
    parts = {"layers_ms": layers_ms / n, "envelope_ms": envelope / n,
             "operators_ms": operators / n, "server_other_ms": server / n, "wire_ms": wire / n}
    return {"traced_mean_ms": mean, "untraced_p50_ms": 1000.0 * statistics.median(lat_plain),
            **parts, "unaccounted_ms": mean - sum(parts.values())}


def per_layer(tr, runner: Runner, n_ops: int, planned: int, n_queries: int,
              wire: tuple[int, int], lat_traced, lat_plain, failed: int) -> dict:
    ms, c = tr.ms, tr.counts

    def per_op(name):
        return ms[name] / n_ops

    client_ms = 1000.0 * sum(lat_traced) if runner.s.server else 0.0
    out = {
        "server.get_flight_info_ms": per_op("server.get_flight_info"),
        "server.do_get_ms": per_op("server.do_get"),
        "server.wire_ms": (client_ms - ms["server.get_flight_info"] - ms["server.do_get"]) / n_ops
        if runner.s.server else 0.0,
        "server.bytes_out": c["engine.result_bytes"] / n_ops if runner.s.server else 0.0,
        "engine.plans_per_query": planned / n_queries if n_queries else 0.0,
        "gate.ensure_select_ms": per_op("gate.ensure_select"),
        "gate.rejected": c["gate.rejected"],
        "policies.rewrite_ms": per_op("policies.rewrite"),
        "federation.plan_sql_ms": per_op("federation.plan_sql"),
        "limits.defensive_limit_ms": per_op("limits.defensive_limit"),
        "limits.check_cost_ms": per_op("limits.check_cost"),
        "limits.run_ms": per_op("limits.run"),
        "limits.limited_share": c["limits.limited"] / max(1, c["limits.defensive_limit.calls"]),
        "reliability.admit_wait_ms": per_op("reliability.admit_wait"),
        "reliability.rejected": c["reliability.rejected"],
        "cache.get_ms": per_op("cache.get"),
        "cache.put_ms": per_op("cache.put"),
        "cache.hit_ratio": c["cache.hits"] / max(1, c["cache.probes"]),
        "cache.bytes_written": c["cache.bytes_written"],
        "spark.shuffle_bytes": c["spark.shuffle_bytes"] + runner.op_shuffle,
        "spark.spill_bytes": c["spark.spill_bytes"],
        "spark.rows_scanned_per_row_out": c["spark.rows_scanned"] / max(1, c["spark.rows_out"]),
        "sources.wire_rows": wire[0],
        "sources.wire_bytes": wire[1],
        "sources.wire_rows_per_row_out": wire[0] / max(1, runner.rows_out),
        "operators.jobs": runner.op_jobs,
        "operators.stages": runner.op_stages,
        "operators.shuffle_bytes": runner.op_shuffle,
        "engine.envelope_ms": (ms["engine.execute"] - tr.covered_ms) / n_ops,
        "trace.overhead_ms": (statistics.median(lat_traced) - statistics.median(lat_plain)) * 1000.0,
        "error_rate": failed / n_ops,
    }
    plan_calls = sum(c[f"federation.rung.{r}"] for r in layers.RUNGS)
    for r in layers.RUNGS:
        out[f"federation.rung.{r}"] = c[f"federation.rung.{r}"]
    out["federation.pushed_share"] = (
        (plan_calls - c["federation.rung.local"]) / plan_calls if plan_calls else 0.0
    )
    for e in W.CURATION_ENTRIES:
        xs = runner.op_seconds.get(e, [])
        out[f"operators.{e}_s"] = statistics.median(xs) if xs else 0.0
    return out


UNITS = {"_ms": "ms", "_s": "s", "_bytes": "bytes", "bytes_out": "bytes",
         "bytes_written": "bytes", "_share": "ratio", "_ratio": "ratio",
         "_rate": "ratio", "per_query": "count", "per_row_out": "ratio"}


def unit_of(name: str) -> str:
    for suffix, unit in UNITS.items():
        if name.endswith(suffix):
            return unit
    return "count"


# Counters that must repeat exactly for a fixed (workload, seed, seconds).
EXACT = ("engine.plans_per_query", "cache.hit_ratio", "federation.rung.whole_statement",
         "federation.rung.subtree", "federation.rung.partial", "federation.rung.local",
         "sources.wire_rows", "operators.jobs", "operators.stages")


def check_counters(key: str, values: dict) -> list[str]:
    """Compare the exact-repeat counters with the last run of the same
    key in this checkout; returns the drifted names (and records)."""
    path = os.path.join(WORK, "counters.json")
    try:
        with open(path) as f:
            ledger = json.load(f)
    except (OSError, ValueError):
        ledger = {}
    now = {k: values[k] for k in EXACT}
    before = ledger.get(key)
    drift = [k for k in EXACT if before is not None and before.get(k) != now[k]]
    ledger[key] = now
    tmp = f"{path}.{os.getpid()}"
    with open(tmp, "w") as f:
        json.dump(ledger, f, indent=1, sort_keys=True)
    os.replace(tmp, path)
    return drift


# --------------------------------------------------------------------- main
def traced_pass(args, setup, plan, answers, lat_plain) -> tuple[dict, list[str], int]:
    """Run the loop once more with every layer wrapped; returns the
    per-layer metrics, the pass's errors and its operation count."""
    setup.reset_caches()
    tr = layers.LayerTrace()
    traced = Runner(setup, answers, trace=tr)
    undo = layers.install(tr, setup.server)
    planned0 = setup.engine.metrics()["queries_planned"]
    wire0 = len(setup.fake_pg.queries) if setup.fake_pg else 0
    try:
        lat_t, errs, _ = traced.loop(plan.clients)
    finally:
        undo()
    n_queries = sum(1 for ops in plan.clients for op in ops
                    if op.kind == "sql" and not op.expect.startswith("STRAKE-"))
    values = per_layer(
        tr, traced, len(lat_t), setup.engine.metrics()["queries_planned"] - planned0,
        n_queries, _wire(setup.fake_pg, wire0), lat_t, lat_plain, len(errs),
    )
    print("# accounting " + json.dumps(accounting(tr, traced, lat_t, lat_plain)), file=sys.stderr)
    drift = check_counters(f"{args.workload}:{args.seed}:{args.seconds}", values)
    values["bench.counter_drift"] = len(drift)
    if drift:
        print(f"# counter drift vs the previous run of this seed: {drift}", file=sys.stderr)
    return values, errs, len(lat_t)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import strake_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import strake_spark from {ROOT}: {e}", file=sys.stderr)
        return 2
    if args.workload not in W.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    os.makedirs(WORK, exist_ok=True)
    _adopt_orphans()
    # a terminated run still takes the cleanup path in `finally`
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    _environment(run_dir)
    rss = PeakRss()
    setup = None
    try:
        data_dir = datagen.ensure_data(WORK)
        plan = W.build_plan(args.workload, args.seed, args.seconds)
        answers = W.oracle(plan, data_dir)
        setup_times = []
        # set-up time is an end-to-end metric: a traced run sets up once
        for _ in range(1 if args.trace else SETUP_REPEATS):
            if setup is not None:
                setup.close(stop_spark=False)
            t = time.perf_counter()
            setup = Setup(args.workload, data_dir, run_dir)
            setup_times.append(time.perf_counter() - t)
        t_warm = time.perf_counter()
        runner = Runner(setup, answers)
        errors = runner.warm(plan.warmup)
        warmup_s = time.perf_counter() - t_warm
        runner.by_template.clear()
        # Untraced: the loop W.LOOPS times from the same cache state,
        # reporting medians. Traced: one plain loop, then the wrapped one.
        loops = []
        for i in range(1 if args.trace else W.LOOPS[args.workload]):
            if i:
                setup.reset_caches()
            loops.append(runner.loop(plan.clients))
        failed = sum(len(errs) for _, errs, _ in loops)
        attempted = sum(len(lat) for lat, _, _ in loops)
        errors += [e for _, errs, _ in loops for e in errs]
        if args.trace:
            metrics, errs, n = traced_pass(args, setup, plan, answers, loops[0][0])
            errors += errs
            attempted += n
            failed += len(errs)
        setup.close()
        setup = None
        peak = rss.stop()
        if not args.trace:
            metrics = end_to_end(loops, statistics.median(setup_times), peak)
        else:
            metrics = {k: {"value": v, "unit": unit_of(k)} for k, v in metrics.items()}
        all_lat = [x for lat, _, _ in loops for x in lat]
        print("# " + json.dumps({
            "workload": args.workload, "seed": args.seed, "loops": len(loops),
            "ops_per_loop": len(loops[0][0]), "tail_percentile": round(tail(loops[0][0])[1], 1),
            "setup_runs_s": setup_times, "warmup_s": warmup_s,
            "loop_p50_ms": [1000 * statistics.median(lat) for lat, _, _ in loops],
            "loop_tail_ms": [1000 * tail(lat)[0] for lat, _, _ in loops],
            "template_p50_ms": {t: round(statistics.median(xs) * 1000, 1)
                                for t, xs in sorted(runner.by_template.items())},
            "process_s": time.perf_counter() - T0, "mean_ms": 1000 * statistics.fmean(all_lat),
            "loadavg": os.getloadavg(), "nproc": os.environ["SPARK_GRAFT_CPUS"],
            "versions": _versions(), "errors": errors[:20],
        }), file=sys.stderr)
        result = {"correct": not errors, "attempted": attempted, "failed": failed,
                  "metrics": metrics}
        print(json.dumps(result))
        return 0 if result["correct"] else 1
    finally:
        try:
            if setup is not None:
                setup.close()
        finally:
            rss.stop()
            stop_processes()
            shutil.rmtree(run_dir, ignore_errors=True)


def _versions() -> dict:
    import duckdb
    import pyarrow
    import pyspark

    return {"pyspark": pyspark.__version__, "pyarrow": pyarrow.__version__,
            "duckdb": duckdb.__version__}


if __name__ == "__main__":
    sys.exit(main())
