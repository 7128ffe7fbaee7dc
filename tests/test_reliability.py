"""Retry / circuit breaker / admission control unit tests (reference
crates/common/src/{retry,circuit_breaker}.rs behaviors) plus engine
integration and REST 5xx retry."""

from __future__ import annotations

import json
import threading
import time
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

import pytest

from strake_spark.config import RetryConfig
from strake_spark.errors import QueryRejected
from strake_spark.reliability import (
    BreakerConfig,
    CircuitBreaker,
    CircuitOpen,
    ConcurrencyGovernor,
    retry_call,
)


class TestRetry:
    def test_succeeds_after_transient_failures(self):
        calls = {"n": 0}

        def flaky():
            calls["n"] += 1
            if calls["n"] < 3:
                raise ValueError("transient")
            return "ok"

        assert retry_call(flaky, RetryConfig(max_attempts=5, base_ms=1), sleep=lambda s: None) == "ok"
        assert calls["n"] == 3

    def test_exhausts_and_raises_last(self):
        def always():
            raise ValueError("perm")

        with pytest.raises(ValueError, match="perm"):
            retry_call(always, RetryConfig(max_attempts=3, base_ms=1), sleep=lambda s: None)

    def test_backoff_is_exponential_and_capped(self):
        delays: list[float] = []

        def always():
            raise ValueError("x")

        with pytest.raises(ValueError):
            retry_call(
                always,
                RetryConfig(max_attempts=5, base_ms=100, cap_ms=250),
                sleep=delays.append,
            )
        assert len(delays) == 4
        # full jitter: delay_i <= min(cap, base * 2^i) / 1000
        for i, d in enumerate(delays):
            assert 0 <= d <= min(250, 100 * 2**i) / 1000 + 1e-9

    def test_non_retryable_passes_through(self):
        def boom():
            raise KeyError("nope")

        with pytest.raises(KeyError):
            retry_call(boom, RetryConfig(max_attempts=5, base_ms=1), retryable=(ValueError,))


class FakeClock:
    def __init__(self):
        self.t = 0.0

    def __call__(self):
        return self.t


class TestCircuitBreaker:
    def _breaker(self, **kw):
        clock = FakeClock()
        cfg = BreakerConfig(
            error_rate_threshold=0.5, window_size=4, min_calls=4,
            open_seconds=10.0, **kw,
        )
        return CircuitBreaker("test", cfg, clock=clock), clock

    def test_trips_on_error_rate(self):
        b, _ = self._breaker()
        for ok in (True, False, False, True):  # 50% failures over window=4
            b.record(ok)
        assert b.state == "open"
        with pytest.raises(CircuitOpen):
            b.acquire()

    def test_stays_closed_under_threshold(self):
        b, _ = self._breaker()
        for ok in (True, True, True, False):
            b.record(ok)
        assert b.state == "closed"
        b.acquire()

    def test_half_open_then_close_on_success(self):
        b, clock = self._breaker()
        for ok in (False, False, False, False):
            b.record(ok)
        assert b.state == "open"
        clock.t = 11.0
        assert b.state == "half_open"
        b.acquire()  # one trial allowed
        with pytest.raises(CircuitOpen):
            b.acquire()  # second trial blocked
        b.record(True)
        assert b.state == "closed"

    def test_half_open_reopens_on_failure(self):
        b, clock = self._breaker()
        for _ in range(4):
            b.record(False)
        clock.t = 11.0
        b.acquire()
        b.record(False)
        assert b.state == "open"

    def test_release_does_not_judge(self):
        b, clock = self._breaker()
        for _ in range(4):
            b.record(False)
        clock.t = 11.0
        b.acquire()
        b.release()
        assert b.state == "half_open"
        b.acquire()  # trial slot freed again


class TestGovernor:
    def test_global_budget_limits_concurrency(self):
        gov = ConcurrencyGovernor(global_budget=2)
        held = []
        a = gov.admit(); a.__enter__(); held.append(a)
        b = gov.admit(); b.__enter__(); held.append(b)
        with pytest.raises(QueryRejected, match="admission timed out"):
            gov.admit(timeout=0.05).__enter__()
        for h in held:
            h.__exit__(None, None, None)
        with gov.admit(timeout=0.05):
            pass

    def test_per_source_cap(self):
        gov = ConcurrencyGovernor(global_budget=10)
        gov.set_source_limit("pg", 1)
        first = gov.admit(("pg",)); first.__enter__()
        with pytest.raises(QueryRejected):
            gov.admit(("pg",), timeout=0.05).__enter__()
        # other sources unaffected
        with gov.admit(("other",), timeout=0.05):
            pass
        first.__exit__(None, None, None)

    def test_permits_released_on_failure(self):
        gov = ConcurrencyGovernor(global_budget=1)
        gov.set_source_limit("s", 1)
        blocker = gov.admit(("s",)); blocker.__enter__()
        with pytest.raises(QueryRejected):
            gov.admit(("s",), timeout=0.05).__enter__()
        blocker.__exit__(None, None, None)
        with gov.admit(("s",), timeout=0.05):  # everything was released
            pass


class TestEngineIntegration:
    def test_breaker_opens_after_source_failures(self, spark, tmp_path):
        import duckdb

        import strake_spark as ss

        dbpath = str(tmp_path / "brk.duckdb")
        con = duckdb.connect(dbpath)
        con.execute("CREATE TABLE t (x INTEGER)")
        con.execute("INSERT INTO t VALUES (1), (2)")
        con.close()
        eng = ss.connect({"sources": [{"name": "bsrc", "type": "duckdb", "url": dbpath}]}, spark=spark)
        # shrink the breaker so the test is fast
        from strake_spark.reliability import BreakerConfig, CircuitBreaker

        eng._breakers["bsrc"] = CircuitBreaker("bsrc", BreakerConfig(window_size=2, min_calls=2, open_seconds=60))
        assert eng.execute("SELECT count(*) AS n FROM bsrc_t").num_rows == 1

        import os
        os.remove(dbpath)  # source vanishes -> queries fail
        for _ in range(2):
            with pytest.raises(Exception):
                eng.execute("SELECT sum(x) AS s FROM bsrc_t")
        with pytest.raises(CircuitOpen):
            eng.execute("SELECT sum(x) AS s FROM bsrc_t")

    @staticmethod
    def _engine(spark, limits=None):
        """Parquet sources ha (nation) and op (region), each breaker
        replaced by a fast one: min_calls=2, cool-down 60 s on a manual
        clock (``eng.clock[0]``)."""
        import strake_spark as ss
        from tests.conftest import SF_DIR

        eng = ss.connect(
            {
                "sources": [
                    {"name": "ha", "type": "parquet", "url": SF_DIR,
                     "tables": [{"name": "nation"}]},
                    {"name": "op", "type": "parquet", "url": SF_DIR,
                     "tables": [{"name": "region"}]},
                ],
                "query_limits": limits or {},
            },
            spark=spark,
        )
        eng.clock = [0.0]
        for name in ("ha", "op"):
            eng._breakers[name] = CircuitBreaker(
                name, BreakerConfig(window_size=2, min_calls=2, open_seconds=60),
                clock=lambda: eng.clock[0],
            )
        return eng

    def test_misspelled_columns_do_not_open_breaker(self, spark):
        from strake_spark.errors import EngineError, ErrorCode

        eng = self._engine(spark)
        for _ in range(eng._breakers["ha"].config.min_calls):
            with pytest.raises(EngineError) as ei:
                eng.execute("SELECT n_nmae FROM ha_nation")
            assert ei.value.code is ErrorCode.FIELD_NOT_FOUND
        assert eng._breakers["ha"].state == "closed"
        assert eng.execute("SELECT n_name FROM ha_nation").num_rows == 25

    def test_over_budget_queries_do_not_open_breaker(self, spark):
        from strake_spark.errors import BudgetExceeded, ErrorCode

        eng = self._engine(spark, limits={"max_estimated_bytes": 10})
        for _ in range(eng._breakers["ha"].config.min_calls):
            with pytest.raises(BudgetExceeded) as ei:
                eng.execute("SELECT n_name FROM ha_nation")
            assert ei.value.code is ErrorCode.BUDGET_EXCEEDED
        assert eng._breakers["ha"].state == "closed"
        eng.config.query_limits.max_estimated_bytes = None
        assert eng.execute("SELECT n_name FROM ha_nation").num_rows == 25

    def test_open_second_source_releases_first_grant(self, spark):
        """A CircuitOpen from the second source's breaker gives back the
        trial grant already taken on the first (half-open) source."""
        eng = self._engine(spark)
        ha, op = eng._breakers["ha"], eng._breakers["op"]
        ha.record(False)
        ha.record(False)
        eng.clock[0] = 61.0  # ha has cooled down to half-open ...
        op.record(False)
        op.record(False)  # ... while op has just opened
        assert (ha.state, op.state) == ("half_open", "open")
        with pytest.raises(CircuitOpen):
            eng.execute(
                "SELECT n_name FROM ha_nation JOIN op_region "
                "ON n_regionkey = r_regionkey"
            )
        assert eng.execute("SELECT n_name FROM ha_nation").num_rows == 25
        assert ha.state == "closed"


class _FlakyHandler(BaseHTTPRequestHandler):
    fails_left = 2

    def log_message(self, *a):
        pass

    def do_GET(self):
        cls = type(self)
        if cls.fails_left > 0:
            cls.fails_left -= 1
            self.send_response(503)
            self.end_headers()
            return
        body = json.dumps([{"id": 1}, {"id": 2}]).encode()
        self.send_response(200)
        self.send_header("Content-Type", "application/json")
        self.end_headers()
        self.wfile.write(body)


class TestRestRetry:
    def test_5xx_retried_until_success(self, spark):
        srv = ThreadingHTTPServer(("127.0.0.1", 0), _FlakyHandler)
        threading.Thread(target=srv.serve_forever, daemon=True).start()
        try:
            from strake_spark.sources import rest as rest_src

            rest_src.ensure_format(spark)
            df = (
                spark.read.format(rest_src.FORMAT_NAME)
                .option("url", f"http://127.0.0.1:{srv.server_port}/x")
                .option("retry_attempts", "4")
                .option("retry_base_ms", "10")
                .load()
            )
            assert df.count() == 2
        finally:
            srv.shutdown()


class TestUserSlots:
    """Per-user connection slots (reference enterprise 'Connection
    Slots': limit concurrent queries per user, docs/enterprise.md:57)."""

    def test_user_limit_blocks_third_concurrent(self):
        from strake_spark.reliability import ConcurrencyGovernor
        from strake_spark.errors import QueryRejected

        gov = ConcurrencyGovernor(10, user_slots={"pat": 2})
        a = gov.admit(user="pat", timeout=0.2)
        b = gov.admit(user="pat", timeout=0.2)
        a.__enter__(); b.__enter__()
        try:
            with pytest.raises(QueryRejected, match="admission timed out"):
                with gov.admit(user="pat", timeout=0.2):
                    pass
            # other users are unaffected
            with gov.admit(user="sam", timeout=0.2):
                pass
        finally:
            a.__exit__(None, None, None)
            b.__exit__(None, None, None)
        # slots released: pat admits again
        with gov.admit(user="pat", timeout=0.2):
            pass

    def test_default_user_slots_apply_to_unnamed_principals(self):
        from strake_spark.reliability import ConcurrencyGovernor
        from strake_spark.errors import QueryRejected

        gov = ConcurrencyGovernor(10, default_user_slots=1)
        a = gov.admit(user="anyone", timeout=0.2)
        a.__enter__()
        try:
            with pytest.raises(QueryRejected):
                with gov.admit(user="anyone", timeout=0.2):
                    pass
        finally:
            a.__exit__(None, None, None)
        # anonymous (user=None) queries never hit user slots
        with gov.admit(timeout=0.2):
            pass

    def test_set_user_limit_runtime(self):
        from strake_spark.reliability import ConcurrencyGovernor
        from strake_spark.errors import QueryRejected

        gov = ConcurrencyGovernor(10)
        with gov.admit(user="x", timeout=0.2):  # unlimited before
            with gov.admit(user="x", timeout=0.2):
                pass
        gov.set_user_limit("x", 1)
        a = gov.admit(user="x", timeout=0.2)
        a.__enter__()
        try:
            with pytest.raises(QueryRejected):
                with gov.admit(user="x", timeout=0.2):
                    pass
        finally:
            a.__exit__(None, None, None)

    def test_engine_config_plumbs_user_slots(self, spark):
        import strake_spark as ss
        from tests.conftest import SF_DIR

        eng = ss.connect(
            {"sources": [{"name": "us", "type": "parquet", "url": SF_DIR,
                          "tables": [{"name": "region"}]}],
             "user_slots": {"pat": 1}},
            spark=spark,
        )
        assert eng._governor._user_limits == {"pat": 1}
        # a normal governed query under the slot still works end-to-end
        out = eng.execute("SELECT count(*) AS n FROM us_region", user="pat")
        assert out.to_pylist() == [{"n": 5}]


class TestPriorityLane:
    """Enterprise 'Query Buffering' (docs/enterprise.md:62): bulk users
    queue when the shared pool saturates; priority users keep admitting
    through the reserved lane."""

    def test_priority_admits_while_bulk_queues(self):
        from strake_spark.errors import QueryRejected
        from strake_spark.reliability import ConcurrencyGovernor

        gov = ConcurrencyGovernor(
            3, priority_users={"ceo"}, priority_reserved=1
        )
        # bulk saturates the shared pool (3 - 1 reserved = 2 permits)
        a1 = gov.admit(timeout=0.1, user="bulk1").__enter__()
        a2 = gov.admit(timeout=0.1, user="bulk2").__enter__()
        with pytest.raises(QueryRejected, match="admission timed out"):
            gov.admit(timeout=0.1, user="bulk3").__enter__()
        # the priority user admits instantly through the reserve
        import time as _t

        t0 = _t.monotonic()
        pri = gov.admit(timeout=5.0, user="ceo").__enter__()
        assert _t.monotonic() - t0 < 0.5  # sub-second, not the bulk queue
        pri.__exit__(None, None, None)
        a1.__exit__(None, None, None)
        a2.__exit__(None, None, None)

    def test_reserve_bounded_for_priority_users_too(self):
        from strake_spark.errors import QueryRejected
        from strake_spark.reliability import ConcurrencyGovernor

        gov = ConcurrencyGovernor(2, priority_users={"p"}, priority_reserved=1)
        held = [gov.admit(timeout=0.1, user="p").__enter__() for _ in range(2)]
        with pytest.raises(QueryRejected):  # shared + reserve both held
            gov.admit(timeout=0.1, user="p").__enter__()
        for h in held:
            h.__exit__(None, None, None)

    def test_priority_prefers_shared_pool(self):
        from strake_spark.reliability import ConcurrencyGovernor

        gov = ConcurrencyGovernor(3, priority_users={"p"}, priority_reserved=1)
        adm = gov.admit(timeout=0.1, user="p").__enter__()
        assert adm._held[0] is gov._global  # shared permit, reserve untouched
        adm.__exit__(None, None, None)

    def test_no_reserve_without_config(self):
        from strake_spark.reliability import ConcurrencyGovernor

        gov = ConcurrencyGovernor(2)
        assert gov._reserve is None

    def test_release_returns_to_the_right_pool(self):
        from strake_spark.errors import QueryRejected
        from strake_spark.reliability import ConcurrencyGovernor

        gov = ConcurrencyGovernor(2, priority_users={"p"}, priority_reserved=1)
        bulk = gov.admit(timeout=0.1, user="b").__enter__()  # shared exhausted
        pri = gov.admit(timeout=0.1, user="p").__enter__()   # reserve permit
        assert pri._held[0] is gov._reserve
        pri.__exit__(None, None, None)
        # reserve is free again for priority; bulk still blocked
        with pytest.raises(QueryRejected):
            gov.admit(timeout=0.1, user="b2").__enter__()
        pri2 = gov.admit(timeout=0.1, user="p").__enter__()
        pri2.__exit__(None, None, None)
        bulk.__exit__(None, None, None)

    def test_config_plumbing(self):
        from strake_spark.config import parse_config

        c = parse_config({"sources": [], "priority_users": ["ceo"],
                          "priority_reserved_slots": 2})
        assert c.priority_users == frozenset({"ceo"})
        assert c.priority_reserved_slots == 2
