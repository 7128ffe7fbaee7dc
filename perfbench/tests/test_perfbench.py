"""Seed and tracing checks for the benchmark itself.

    python3 -m pytest perfbench/tests -q -p no:cacheprovider

All but the last test need only DuckDB; the last starts Spark once per
workload (about a minute in all).
"""

from __future__ import annotations

import os
import sys

import pytest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

import datagen  # noqa: E402
import workloads as W  # noqa: E402


def _texts(plan):
    return [(op.text, op.user, op.expect) for ops in plan.warmup + plan.clients for op in ops]


@pytest.mark.parametrize("workload", W.WORKLOADS)
def test_same_seed_same_sequence(workload):
    assert _texts(W.build_plan(workload, 7, 10)) == _texts(W.build_plan(workload, 7, 10))


@pytest.mark.parametrize("workload", W.WORKLOADS)
def test_different_seed_different_sequence(workload):
    assert _texts(W.build_plan(workload, 7, 10)) != _texts(W.build_plan(workload, 8, 10))


def test_agent_mix_shape():
    """30% exact repeats and at least 5% expected rejections."""
    plan = W.build_plan("agent_mix", 3, 20)
    for ops in plan.clients:
        rejects = [op for op in ops if op.expect.startswith("STRAKE-")]
        assert len(rejects) >= 0.05 * len(ops)
        fresh = {op.text for op in ops if not op.expect.startswith("STRAKE-")}
        served = len(ops) - len(rejects)
        assert 0.25 <= 1 - len(fresh) / served <= 0.35


@pytest.fixture(scope="module", autouse=True)
def _stop_spark_processes():
    """The Spark test leaves the JVM up for later tests; end it (and its
    Python workers) with the module."""
    yield
    import run

    run.stop_processes()


@pytest.fixture(scope="module")
def data_dir():
    return datagen.ensure_data(os.path.join(HERE, "_work"))


@pytest.mark.parametrize("workload", W.WORKLOADS)
def test_same_seed_same_answers(workload, data_dir):
    plan = W.build_plan(workload, 5, 4)
    assert W.oracle(plan, data_dir) == W.oracle(W.build_plan(workload, 5, 4), data_dir)


def _ipc(table) -> bytes:
    import pyarrow as pa

    sink = pa.BufferOutputStream()
    with pa.ipc.new_stream(sink, table.schema) as w:
        w.write_table(table)
    return sink.getvalue().to_pybytes()


@pytest.mark.parametrize("workload", W.WORKLOADS)
def test_wrappers_leave_results_byte_identical(workload, data_dir, tmp_path):
    """Every warm-up operation returns the oracle's answer, and the same
    bytes again once the layer wrappers are installed."""
    import run
    import layers

    run._environment(str(tmp_path))
    plan = W.build_plan(workload, 11, 4)
    answers = W.oracle(plan, data_dir)
    setup = run.Setup(workload, data_dir, str(tmp_path))
    try:
        runner = run.Runner(setup, answers)
        clients = runner._clients(len(plan.warmup))

        def results(r):
            out = []
            for client, ops in zip(clients, plan.warmup):
                for op in ops:
                    table = (r._operator(op) if op.kind == "operator"
                             else client.execute(op.text, user=op.user))
                    ok, note = r._check(op, table, None)
                    assert ok, f"{op.template}: {note}"
                    out.append(_ipc(table) if op.expect == "rows" else table.num_rows)
            return out

        plain = results(runner)
        setup.reset_caches()
        tr = layers.LayerTrace()
        undo = layers.install(tr, setup.server)
        try:
            traced = results(run.Runner(setup, answers, trace=tr))
        finally:
            undo()
        assert traced == plain
        assert tr.ms["limits.run"] > 0
    finally:
        setup.close()
