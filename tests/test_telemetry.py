"""Span tracing + OTLP export (reference crates/common/src/telemetry.rs):
traceparent parsing, span nesting, OTLP JSON shape, best-effort export,
and the engine's query.execute/plan/run span tree.
"""

from __future__ import annotations

import json
import threading
from http.server import BaseHTTPRequestHandler, HTTPServer

import pytest

from strake_spark.telemetry import (
    OtlpJsonExporter,
    Tracer,
    parse_traceparent,
    spans_to_otlp,
)
from tests.conftest import SF_DIR


class TestTraceparent:
    def test_valid(self):
        tid, sid = "a" * 32, "b" * 16
        assert parse_traceparent(f"00-{tid}-{sid}-01") == (tid, sid)

    @pytest.mark.parametrize("bad", [
        None, "", "garbage", "00-short-ids-01",
        "01-" + "a" * 32 + "-" + "b" * 16 + "-01",  # unknown version
        "00-" + "0" * 32 + "-" + "b" * 16 + "-01",  # all-zero trace id
        "00-" + "a" * 32 + "-" + "0" * 16 + "-01",  # all-zero span id
        "00-" + "z" * 32 + "-" + "b" * 16 + "-01",  # non-hex
    ])
    def test_invalid_starts_fresh_trace(self, bad):
        assert parse_traceparent(bad) is None


class TestTracer:
    def test_nesting_parents_within_thread(self):
        t = Tracer()
        with t.span("outer") as outer:
            with t.span("inner") as inner:
                assert inner.span.trace_id == outer.span.trace_id
                assert inner.span.parent_span_id == outer.span.span_id
        spans = t.finished_spans()
        assert [s.name for s in spans] == ["inner", "outer"]
        assert all(s.end_ns >= s.start_ns for s in spans)

    def test_traceparent_joins_external_trace(self):
        t = Tracer()
        tid = "c" * 32
        with t.span("joined", traceparent=f"00-{tid}-{'d' * 16}-01") as h:
            assert h.span.trace_id == tid
            assert h.span.parent_span_id == "d" * 16

    def test_exception_marks_error_and_still_records(self):
        t = Tracer()
        with pytest.raises(ValueError):
            with t.span("boom"):
                raise ValueError("x")
        (span,) = t.finished_spans()
        assert span.status == "ERROR"
        assert span.attributes["error.type"] == "ValueError"

    def test_ring_buffer_bounded(self):
        t = Tracer(max_spans=3)
        for i in range(10):
            with t.span(f"s{i}"):
                pass
        assert [s.name for s in t.finished_spans()] == ["s7", "s8", "s9"]

    def test_traceparent_root_still_flushes_on_close(self):
        """A span that joined a caller's trace (parent_span_id set from
        traceparent) is still the LOCAL tree root — its close must
        trigger the tree-complete flush, not wait for batch overflow."""
        exported = []

        class Fake:
            def export(self, batch):
                exported.append(list(batch))

        t = Tracer(exporter=Fake(), batch_size=1000)
        hdr = f"00-{'ab' * 16}-{'cd' * 8}-01"
        with t.span("query.execute", traceparent=hdr) as h:
            assert h.span.parent_span_id == "cd" * 8
            with t.span("query.plan"):
                pass
            assert exported == []  # child close alone must not flush
        assert len(exported) == 1 and len(exported[0]) == 2
        assert {s.name for s in exported[0]} == {"query.execute", "query.plan"}

    def test_dead_exporter_never_raises(self):
        t = Tracer(exporter=OtlpJsonExporter("http://127.0.0.1:1", timeout=0.2))
        with t.span("q"):
            pass
        assert t.export_errors == 1


class TestOtlpShape:
    def test_wire_shape(self):
        t = Tracer()
        with t.span("q", {"n": 5, "f": 1.5, "b": True, "s": "x"}):
            pass
        (span,) = t.finished_spans()
        body = spans_to_otlp([span], service_name="svc")
        rs = body["resourceSpans"][0]
        assert rs["resource"]["attributes"][0] == {
            "key": "service.name", "value": {"stringValue": "svc"}
        }
        s = rs["scopeSpans"][0]["spans"][0]
        assert len(s["traceId"]) == 32 and len(s["spanId"]) == 16
        assert s["status"] == {"code": 1}
        attrs = {a["key"]: a["value"] for a in s["attributes"]}
        assert attrs["n"] == {"intValue": "5"}
        assert attrs["f"] == {"doubleValue": 1.5}
        assert attrs["b"] == {"boolValue": True}
        assert attrs["s"] == {"stringValue": "x"}

    def test_exporter_posts_to_collector(self):
        received = []

        class Collector(BaseHTTPRequestHandler):
            def do_POST(self):
                body = self.rfile.read(int(self.headers["Content-Length"]))
                received.append((self.path, json.loads(body)))
                self.send_response(200)
                self.end_headers()

            def log_message(self, *a):
                pass

        srv = HTTPServer(("127.0.0.1", 0), Collector)
        threading.Thread(target=srv.serve_forever, daemon=True).start()
        try:
            t = Tracer(
                exporter=OtlpJsonExporter(f"http://127.0.0.1:{srv.server_port}")
            )
            with t.span("exported"):
                with t.span("child"):
                    pass
            assert t.export_errors == 0
            # one POST for the whole finished trace, not one per span
            assert len(received) == 1
            (path, body) = received[0]
            assert path == "/v1/traces"
            names = {
                s["name"]
                for s in body["resourceSpans"][0]["scopeSpans"][0]["spans"]
            }
            assert names == {"exported", "child"}
        finally:
            srv.shutdown()


class TestEngineSpans:
    @pytest.fixture(scope="class")
    def engine(self, spark):
        import strake_spark as ss

        return ss.connect(
            {"sources": [{"name": "tl", "type": "parquet", "url": SF_DIR,
                          "tables": [{"name": "region"}]}]},
            spark=spark,
        )

    def test_execute_emits_span_tree(self, engine):
        engine.execute("SELECT count(*) AS n FROM tl_region")
        spans = engine.spans()
        by_name = {s["name"]: s for s in spans[-3:]}
        assert {"query.plan", "query.run", "query.execute"} <= set(by_name)
        root = by_name["query.execute"]
        assert by_name["query.plan"]["parent_span_id"] == root["span_id"]
        assert by_name["query.plan"]["trace_id"] == root["trace_id"]
        assert root["attributes"]["strake.rows"] == 1
        assert root["attributes"]["strake.sources"] == "tl"

    def test_traceparent_joins_distributed_trace(self, engine):
        tid = "e" * 32
        engine.execute(
            "SELECT r_name FROM tl_region ORDER BY r_name",
            traceparent=f"00-{tid}-{'f' * 16}-01",
        )
        root = [s for s in engine.spans() if s["name"] == "query.execute"][-1]
        assert root["trace_id"] == tid
        assert root["parent_span_id"] == "f" * 16

    def test_metrics_count_spans(self, engine):
        m = engine.metrics()
        assert m["spans_recorded"] >= 3
        assert m["span_export_errors"] == 0


class TestProfile:
    @pytest.fixture(scope="class")
    def engine(self, spark):
        import strake_spark as ss

        return ss.connect(
            {"sources": [{"name": "pr", "type": "parquet", "url": SF_DIR,
                          "tables": [{"name": "orders"}]}]},
            spark=spark,
        )

    def test_runtime_metrics_reported(self, engine):
        rep = engine.profile(
            "SELECT o_orderstatus, count(*) AS n FROM pr_orders GROUP BY o_orderstatus"
        )
        assert rep["rows"] == 3
        nodes = {n["node"]: n for n in rep["nodes"]}
        scan = next(n for name, n in nodes.items() if name.startswith("Scan parquet"))
        # ACTUAL runtime metrics, not estimates
        assert scan["metrics"]["numOutputRows"] == 1500
        assert scan["metrics"]["numFiles"] == 1
        agg = [n for name, n in nodes.items() if name == "HashAggregate"]
        assert agg and any(a["metrics"].get("numOutputRows") == 3 for a in agg)
        assert "Scan parquet" in rep["formatted"]
        assert "numOutputRows=1500" in rep["formatted"]

    def test_profile_is_governed(self, engine):
        from strake_spark.errors import QueryRejected

        with pytest.raises(QueryRejected):
            engine.profile("DROP TABLE pr_orders")

    def test_profile_no_driver_materialization(self, engine, monkeypatch):
        """profile() must never ship result rows to the driver: the plan
        is driven JVM-side (execute_plan_only), so DataFrame.collect /
        toPandas / toArrow are never reached."""
        from pyspark.sql import DataFrame

        def boom(self, *a, **k):  # pragma: no cover - failure path
            raise AssertionError("profile materialized rows on the driver")

        monkeypatch.setattr(DataFrame, "collect", boom)
        monkeypatch.setattr(DataFrame, "toPandas", boom)
        monkeypatch.setattr(DataFrame, "toArrow", boom, raising=False)
        rep = engine.profile(
            "SELECT o_orderstatus, count(*) AS n FROM pr_orders GROUP BY o_orderstatus"
        )
        assert rep["rows"] == 3
        assert any(n["node"].startswith("Scan parquet") for n in rep["nodes"])

    def test_profile_runs_inside_admission_and_breakers(self, engine):
        """profile() shares execute()'s envelope: the touched source's
        breaker records the outcome and admission accounting balances."""
        br = engine._breakers["pr"]
        before = len(br._outcomes)
        engine.profile("SELECT count(*) AS n FROM pr_orders")
        assert len(br._outcomes) == before + 1 and br._outcomes[-1] is True
        # semaphores fully released: another query admits instantly
        engine.profile("SELECT count(*) AS n FROM pr_orders")
        assert br.state == "closed"

    def test_profile_logs_like_execute(self, engine):
        """profile() leaves a query_log() entry and counts as an
        executed query, like execute()."""
        sql = "SELECT count(*) AS n FROM pr_orders WHERE o_orderkey > 7"
        before = engine.metrics()["queries_executed"]
        engine.profile(sql, user="prof")
        assert engine.metrics()["queries_executed"] == before + 1
        entry = engine.query_log()[-1]
        assert (entry["query"], entry["user"], entry["cached"]) == (sql, "prof", False)

    def test_profile_enforces_max_output_rows(self, spark):
        import strake_spark as ss
        from strake_spark.errors import QueryRejected

        eng = ss.connect(
            {
                "sources": [{"name": "pr", "type": "parquet", "url": SF_DIR,
                             "tables": [{"name": "orders"}]}],
                "query_limits": {"default_limit": 0, "max_output_rows": 100},
            },
            spark=spark,
        )
        with pytest.raises(QueryRejected, match="max_output_rows"):
            eng.profile("SELECT o_orderkey FROM pr_orders")

    def test_profile_over_rest(self, engine):
        import json as js
        import urllib.request

        from strake_spark.rest_api import make_rest_server

        srv = make_rest_server(engine).start()
        try:
            req = urllib.request.Request(
                f"http://127.0.0.1:{srv.port}/api/v1/profile",
                data=js.dumps({"sql": "SELECT count(*) AS n FROM pr_orders"}).encode(),
                method="POST",
            )
            req.add_header("Content-Type", "application/json")
            with urllib.request.urlopen(req, timeout=60) as resp:
                body = js.loads(resp.read())
            assert body["status"] == "success"
            assert body["data"]["rows"] == 1
            assert any(
                n["node"].startswith("Scan parquet") for n in body["data"]["nodes"]
            )
        finally:
            srv.stop()
