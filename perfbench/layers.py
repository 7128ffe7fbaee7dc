"""Per-layer timers and counters for the traced run.

Each layer's public entry point is wrapped from outside the program:
the wrappers time the call, count its outcome and hand back exactly what
the wrapped function returned (or raise what it raised), so results are
byte-identical with and without them. ``install`` patches the module or
class attribute the engine looks up at call time and returns the undo.

Layer times are accumulated per thread role: calls made inside
``StrakeEngine.execute`` are also summed into ``covered``, so the
engine's own remainder (``engine.envelope_ms``) is execute wall time
minus the layer time it covers.
"""

from __future__ import annotations

import os
import threading
import time
from collections import Counter
from contextlib import contextmanager

# Rung names as plans/federation.py records them, best rung first.
RUNGS = ("whole_statement", "subtree", "partial", "local")


class LayerTrace:
    def __init__(self) -> None:
        self._lock = threading.Lock()
        self._local = threading.local()
        self.ms: Counter = Counter()
        self.counts: Counter = Counter()
        self.covered_ms = 0.0

    def add(self, name: str, ms: float) -> None:
        with self._lock:
            self.ms[name] += ms
            self.counts[name + ".calls"] += 1
            if getattr(self._local, "in_execute", False):
                self.covered_ms += ms

    def inc(self, name: str, k: float = 1) -> None:
        with self._lock:
            self.counts[name] += k

    @contextmanager
    def timed(self, name: str):
        t = time.perf_counter()
        try:
            yield
        finally:
            self.add(name, (time.perf_counter() - t) * 1000.0)

    @contextmanager
    def execute_scope(self):
        self._local.in_execute = True
        t = time.perf_counter()
        try:
            yield
        finally:
            self._local.in_execute = False
            with self._lock:
                self.ms["engine.execute"] += (time.perf_counter() - t) * 1000.0


def _dir_bytes(path: str) -> int:
    total = 0
    for name in os.listdir(path):
        try:
            total += os.stat(os.path.join(path, name)).st_size
        except OSError:
            pass
    return total


def spark_profile(df) -> tuple[int, int, int]:
    """(shuffle bytes written, spill bytes, rows read by scans) of the
    executed plan, read from its SQL metrics."""
    from strake_spark.plans.tree import runtime_profile

    shuffle = spill = scanned = 0
    for node in runtime_profile(df):
        m = node["metrics"]
        name = node["node"]
        shuffle += int(m.get("shuffleBytesWritten", 0))
        spill += int(m.get("spillSize", 0))
        if name.startswith(("Scan", "BatchScan")):
            scanned += int(m.get("numOutputRows", 0))
    return shuffle, spill, scanned


def install(trace: LayerTrace, server=None):
    """Wrap every layer entry point; returns a function that undoes it."""
    import strake_spark.engine as engine_mod
    import strake_spark.plans.federation as fed
    from strake_spark.cache import ResultCache
    from strake_spark.errors import QueryRejected
    from strake_spark.governance.policies import PolicyEnforcer
    from strake_spark.reliability import _Admission

    lt = trace
    undo: list[tuple[object, str, object]] = []

    def patch(owner, attr, make):
        orig = getattr(owner, attr)
        undo.append((owner, attr, orig))
        setattr(owner, attr, make(orig))

    def gate(orig):
        def ensure_select(sql):
            try:
                with trace.timed("gate.ensure_select"):
                    return orig(sql)
            except QueryRejected:
                trace.inc("gate.rejected")
                raise
        return ensure_select

    def rewrite(orig):
        def wrapped(self, sql, user):
            with trace.timed("policies.rewrite"):
                return orig(self, sql, user)
        return wrapped

    def plan_sql(orig):
        def wrapped(spark, sql, allow_fallback=True, trace=None):
            decisions = [] if trace is None else trace
            with lt.timed("federation.plan_sql"):
                out = orig(spark, sql, allow_fallback=allow_fallback, trace=decisions)
            chosen = next(
                (r for r, status, _ in decisions if status in ("pushed", "applied") and r in RUNGS),
                "local",
            )
            lt.inc(f"federation.rung.{chosen}")
            return out
        return wrapped

    def defensive_limit(orig):
        def wrapped(df, limits):
            with trace.timed("limits.defensive_limit"):
                out = orig(df, limits)
            trace.inc("limits.limited", out is not df)
            return out
        return wrapped

    def check_cost(orig):
        def wrapped(df, limits):
            with trace.timed("limits.check_cost"):
                return orig(df, limits)
        return wrapped

    def run_with_timeout(orig):
        def wrapped(df, action, timeout_s):
            with trace.timed("limits.run"):
                out = orig(df, action, timeout_s)
            shuffle, spill, scanned = spark_profile(df)
            trace.inc("spark.shuffle_bytes", shuffle)
            trace.inc("spark.spill_bytes", spill)
            trace.inc("spark.rows_scanned", scanned)
            trace.inc("spark.rows_out", getattr(out, "num_rows", 0))
            return out
        return wrapped

    def admit_enter(orig):
        def wrapped(self):
            try:
                with trace.timed("reliability.admit_wait"):
                    return orig(self)
            except QueryRejected:
                trace.inc("reliability.rejected")
                raise
        return wrapped

    def cache_get(orig):
        def wrapped(self, df, user):
            with trace.timed("cache.get"):
                out = orig(self, df, user)
            trace.inc("cache.probes")
            trace.inc("cache.hits", out is not None)
            return out
        return wrapped

    def cache_put(orig):
        def wrapped(self, df, user, table):
            before = _dir_bytes(self.config.directory)
            with trace.timed("cache.put"):
                orig(self, df, user, table)
            trace.inc("cache.bytes_written", max(0, _dir_bytes(self.config.directory) - before))
        return wrapped

    def execute(orig):
        def wrapped(self, query, *a, **kw):
            with trace.execute_scope():
                out = orig(self, query, *a, **kw)
            trace.inc("engine.result_bytes", out.nbytes)
            return out
        return wrapped

    def handler(name):
        def make(orig):
            def wrapped(self, context, arg):
                with trace.timed(name):
                    return orig(self, context, arg)
            return wrapped
        return make

    patch(engine_mod, "ensure_select", gate)
    patch(PolicyEnforcer, "rewrite", rewrite)
    patch(fed, "plan_sql", plan_sql)
    patch(engine_mod, "apply_defensive_limit", defensive_limit)
    patch(engine_mod, "check_cost", check_cost)
    patch(engine_mod, "run_with_timeout", run_with_timeout)
    patch(_Admission, "__enter__", admit_enter)
    patch(ResultCache, "get", cache_get)
    patch(ResultCache, "put", cache_put)
    patch(engine_mod.StrakeEngine, "execute", execute)
    if server is not None:
        patch(type(server), "get_flight_info", handler("server.get_flight_info"))
        patch(type(server), "do_get", handler("server.do_get"))

    def uninstall() -> None:
        for owner, attr, orig in reversed(undo):
            setattr(owner, attr, orig)

    return uninstall
