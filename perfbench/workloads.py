"""Seeded operation sequences for each workload, and their DuckDB answers.

Every workload is a closed loop over a fixed list of operations built
here from ``--seed`` and the run length alone, so a given seed always
issues the identical work. Statements name the engine's registered views
(``tpch_orders``, ``pg_orders``, ...); the DuckDB oracle registers views
of the same names over the same files, so one statement text serves both
engines.
"""

from __future__ import annotations

import datetime as _dt
import decimal
import hashlib
import math
import random
import re
from dataclasses import dataclass

import datagen

WORKLOADS = ("agent_mix", "embedded_batch")

# Loop lengths are fixed before a run starts, from --seconds and these
# nominal costs on a 4-core machine: agent_mix issues AGENT_RATE statements
# per second per client; one embedded_batch pass takes PASS_SECONDS.
AGENT_RATE = 2.0
PASS_SECONDS = 10.0
# Untraced runs repeat the measured loop LOOPS times (caches reset in
# between) and report medians. After one pass per template agent_mix's
# planning path is still warming, so its first loop is usually the
# slowest, and the median of three sets it aside. embedded_batch has
# no time to spare for more than one loop.
LOOPS = {"agent_mix": 3, "embedded_batch": 1}

# Views the engine registers, per source. The oracle mirrors them.
TPCH_VIEWS = {f"tpch_{t}": t for t in datagen.TPCH_TABLES}
FED_VIEWS = {f"{src}_{t}": f"remote.{t}" for src in ("pg", "dk") for t in ("orders", "lineitem")}

# Row-level security and masking for the governed agent user; the
# oracle applies the same rules as plain DuckDB views.
AGENT_USER, OPS_USER = "agent", "ops"
POLICY_RULES = {
    "tpch_customer": {"rls_filter": "c_nationkey < 15", "masking": {"c_name": "'***'"}},
    "tpch_orders": {
        "rls_filter": "o_orderstatus <> 'P'",
        "masking": {"o_totalprice": "CAST(floor(o_totalprice) AS DOUBLE)"},
    },
}

# Expected rejections carry these exact codes.
WRITE_REJECT = "STRAKE-2001"
FIELD_REJECT = "STRAKE-2002"

TPCH_QUERIES = (
    "tpch_q1_pricing_summary",
    "tpch_q3_shipping_priority",
    "tpch_q4_order_priority",
    "tpch_q5_local_supplier_volume",
    "tpch_q6_forecast_revenue",
    "tpch_q10_returned_items",
    "tpch_q18_large_volume_customers",
)
CURATION_ENTRIES = ("dedup_minhash_lsh_candidates", "pipeline_decontaminate_ngram")

_SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_N_CUST, _N_ORDERS = 15_000, 150_000


@dataclass(frozen=True)
class Op:
    """One operation of a loop. ``kind`` is ``sql`` (a statement for the
    engine) or ``operator`` (an inventory entry run on Spark). ``expect``
    is ``rows`` (full result checked), ``limited`` (defensive limit:
    row count and columns checked) or an exact ``STRAKE-NNNN`` code."""

    kind: str
    template: str
    text: str
    user: str | None = None
    expect: str = "rows"


@dataclass(frozen=True)
class Plan:
    warmup: tuple[tuple[Op, ...], ...]  # per client
    clients: tuple[tuple[Op, ...], ...]  # per client, the measured loop


def _orderkey(rng: random.Random) -> int:
    # dbgen order keys: 8 used keys in every block of 32
    i = rng.randrange(_N_ORDERS)
    return (i // 8) * 32 + (i % 8) + 1


def _date(rng: random.Random, lo: str, hi: str) -> _dt.date:
    a, b = _dt.date.fromisoformat(lo), _dt.date.fromisoformat(hi)
    return a + _dt.timedelta(days=rng.randrange((b - a).days))


# -------------------------------------------------------------- agent_mix
def _agent_templates(rng: random.Random) -> dict[str, tuple[str, str]]:
    """template -> (statement, expect), freshly parameterized."""
    d = _date(rng, "1993-01-01", "1998-01-01")
    return {
        "customer_by_key": (
            "SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment "
            f"FROM tpch_customer WHERE c_custkey = {rng.randrange(1, _N_CUST + 1)}",
            "rows"),
        "order_by_key": (
            f"SELECT * FROM tpch_orders WHERE o_orderkey = {_orderkey(rng)}", "rows"),
        "lines_of_order": (
            "SELECT l_linenumber, l_partkey, l_quantity, l_extendedprice "
            f"FROM tpch_lineitem WHERE l_orderkey = {_orderkey(rng)} "
            "ORDER BY l_linenumber", "rows"),
        "priority_summary": (
            "SELECT o_orderpriority, count(*) AS n, "
            "CAST(sum(CAST(o_totalprice AS DECIMAL(19,4))) AS DOUBLE) AS total "
            f"FROM tpch_orders WHERE o_orderdate >= TIMESTAMP '{d}' "
            f"AND o_orderdate < TIMESTAMP '{d + _dt.timedelta(days=90)}' "
            "GROUP BY o_orderpriority ORDER BY o_orderpriority", "rows"),
        "top_balances": (
            "SELECT c_custkey, c_name, c_acctbal FROM tpch_customer "
            f"WHERE c_nationkey = {rng.randrange(25)} "
            "ORDER BY c_acctbal DESC, c_custkey LIMIT 10", "rows"),
        "segment_by_nation": (
            "SELECT n_name, count(*) AS n FROM tpch_customer "
            "JOIN tpch_nation ON c_nationkey = n_nationkey "
            f"WHERE c_mktsegment = '{rng.choice(_SEGMENTS)}' "
            "GROUP BY n_name ORDER BY n_name", "rows"),
        "unbounded_orders": (
            "SELECT * FROM tpch_orders "
            f"WHERE o_orderpriority = '{rng.choice(_PRIORITIES)}' "
            f"AND o_orderdate >= TIMESTAMP '{d}'", "limited"),
    }


def _agent_rejections(rng: random.Random) -> list[tuple[str, str, str]]:
    return [
        ("write_statement",
         f"DELETE FROM tpch_orders WHERE o_orderkey = {_orderkey(rng)}", WRITE_REJECT),
        ("misspelled_column",
         f"SELECT c_custky FROM tpch_customer WHERE c_custkey = {rng.randrange(1, _N_CUST)}",
         FIELD_REJECT),
    ]


# Fresh statements per cycle of the mix, by template. Point lookups
# (the first two) make up half of the fresh statements, the aggregates
# a quarter: by latency the loop sorts into rejections, cache hits,
# point lookups, the other small queries and the aggregates, and these
# weights put the median in the middle of the point-lookup band and the
# tail (p87.5 of 80) inside the aggregate band, each clear of the edges
# between bands, where a few statements more or less move the figure.
FRESH_WEIGHTS = {
    "customer_by_key": 4, "top_balances": 3, "order_by_key": 1, "lines_of_order": 1,
    "unbounded_orders": 1, "priority_summary": 2, "segment_by_nation": 2,
}


def _agent_client(rng: random.Random, user: str, n: int) -> tuple[tuple[Op, ...], tuple[Op, ...]]:
    """5% expected rejections; of the rest, 30% exact repeats of an
    earlier statement and 70% fresh ones, whose templates follow
    FRESH_WEIGHTS whatever the seed. The repeat share keeps the median
    inside the cache-miss latency band, clear of the edge between hits
    and misses; hits (planning only) keep getting faster for hundreds
    of statements as the JVM warms, which would make a hit-band median
    drift."""
    warm = [Op("sql", t, s, user, e) for t, (s, e) in _agent_templates(rng).items()]
    n_rej = max(2, math.ceil(0.05 * n))
    n_fresh = round(0.7 * (n - n_rej))
    n_rep = n - n_rej - n_fresh
    names = list(_agent_templates(rng))
    cycle = [t for t in names for _ in range(FRESH_WEIGHTS[t])]
    fresh = []
    for i in range(n_fresh):
        t = cycle[i % len(cycle)]
        s, e = _agent_templates(rng)[t]
        fresh.append(Op("sql", t, s, user, e))
    rng.shuffle(fresh)
    rejects = []
    for i in range(n_rej):
        t, s, e = _agent_rejections(rng)[i % 2]
        rejects.append(Op("sql", t, s, user, e))
    slots = ["F"] * n_fresh + ["R"] * n_rep + ["X"] * n_rej
    rng.shuffle(slots)
    # a repeat needs an earlier fresh statement: move the first F ahead
    slots.remove("F")
    slots.insert(0, "F")
    out: list[Op] = []
    issued: dict[str, list[Op]] = {}
    repeats = dict.fromkeys(names, 0)
    fi = xi = 0
    for s in slots:
        if s == "F":
            op = fresh[fi]
            issued.setdefault(op.template, []).append(op)
            fi += 1
        elif s == "R":
            # repeat the template repeated least so far: every template
            # gets its share of hits whatever the seed
            t = min(issued, key=lambda k: (repeats[k], names.index(k)))
            repeats[t] += 1
            op = rng.choice(issued[t])
        else:
            op = rejects[xi]
            xi += 1
        out.append(op)
    return tuple(warm), tuple(out)


# --------------------------------------------------------- embedded_batch
def _fed_templates(rng: random.Random) -> dict[str, str]:
    """One statement for each rung of the federation ladder above the
    local one (the TPC-H queries run on the local rung); the name says
    which rung the planner picks for it."""
    d = _date(rng, "1993-01-01", "1998-06-01")
    a = _orderkey(rng)
    return {
        "fed_whole_pg": (
            "SELECT o_orderkey, o_orderstatus, o_totalprice FROM pg_orders "
            f"WHERE o_custkey = {rng.randrange(1, _N_CUST + 1)} ORDER BY o_orderkey"),
        "fed_whole_duckdb": (
            "SELECT l_returnflag, count(*) AS n, "
            "CAST(sum(CAST(l_quantity AS DECIMAL(19,4))) AS DOUBLE) AS qty "
            f"FROM dk_lineitem WHERE l_orderkey BETWEEN {a} AND {a + 4000} "
            "GROUP BY l_returnflag ORDER BY l_returnflag"),
        "fed_subtree": (
            "WITH agg AS (SELECT o_custkey, count(*) AS n FROM pg_orders "
            f"WHERE o_orderdate >= TIMESTAMP '{d}' "
            f"AND o_orderdate < TIMESTAMP '{d + _dt.timedelta(days=20)}' "
            "GROUP BY o_custkey) "
            "SELECT c.c_mktsegment, count(*) AS customers, sum(agg.n) AS orders "
            "FROM agg JOIN tpch_customer c ON agg.o_custkey = c.c_custkey "
            "GROUP BY c.c_mktsegment ORDER BY c.c_mktsegment"),
        "fed_partial": (
            "SELECT c.c_name, o.o_orderkey, o.o_totalprice FROM pg_orders o "
            "JOIN tpch_customer c ON o.o_custkey = c.c_custkey "
            f"WHERE o.o_totalprice > {rng.randrange(300_000, 400_000)} "
            f"AND c.c_nationkey = {rng.randrange(25)} ORDER BY o.o_orderkey"),
    }


def _embedded(rng: random.Random, passes: int) -> tuple[tuple[Op, ...], tuple[Op, ...]]:
    """Each pass: the seven TPC-H queries, one freshly parameterized
    statement per federation rung and the curation operators, in a
    seeded order. Every pass holds the same templates, so runs with
    different seeds do the same kind and amount of work."""
    from strake_spark import inventory

    oracle = inventory.oracle_sql()
    tpch = [Op("sql", q, _to_views(oracle[q], TPCH_VIEWS)) for q in TPCH_QUERIES]
    ops = [Op("operator", e, e) for e in CURATION_ENTRIES]

    def fed():
        return [Op("sql", t, s) for t, s in _fed_templates(rng).items()]

    warm = tuple(tpch + fed() + ops)
    out: list[Op] = []
    for _ in range(passes):
        one = tpch + fed() + ops
        rng.shuffle(one)
        out.extend(one)
    return warm, tuple(out)


def _to_views(sql: str, views: dict[str, str]) -> str:
    bare = {v: k for k, v in views.items()}
    return re.sub(r"\b(" + "|".join(bare) + r")\b", lambda m: bare[m.group(1)], sql)


def build_plan(workload: str, seed: int, seconds: float) -> Plan:
    if workload not in WORKLOADS:
        raise ValueError(f"unknown workload {workload!r} (known: {', '.join(WORKLOADS)})")
    rng = random.Random(f"{workload}:{seed}")
    if workload == "agent_mix":
        n = max(20, math.ceil(AGENT_RATE * seconds))
        pairs = [_agent_client(rng, u, n) for u in (AGENT_USER, OPS_USER)]
    else:
        pairs = [_embedded(rng, max(1, round(seconds / PASS_SECONDS)))]
    return Plan(tuple(w for w, _ in pairs), tuple(c for _, c in pairs))


# ---------------------------------------------------------------- answers
def _norm(v):
    if isinstance(v, float):
        return float(f"{v:.12g}")
    if isinstance(v, decimal.Decimal):
        return float(f"{float(v):.12g}")
    if isinstance(v, _dt.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, _dt.date):
        return v.isoformat()
    return v


def result_hash(columns: list[str], rows: list[tuple]) -> str:
    """Order-insensitive digest of a result: column names, then rows with
    floats cut to 12 significant digits and temporal values as ISO text."""
    canon = sorted(repr(tuple(_norm(v) for v in r)) for r in rows)
    h = hashlib.sha256(repr([c.lower() for c in columns]).encode())
    for r in canon:
        h.update(r.encode())
    return h.hexdigest()


def arrow_hash(table) -> str:
    cols = table.column_names
    data = [table.column(i).to_pylist() for i in range(len(cols))]
    return result_hash(cols, list(zip(*data)) if data else [])


@dataclass(frozen=True)
class Answer:
    columns: tuple[str, ...]
    rows: int
    digest: str


def oracle(plan: Plan, data_dir: str) -> dict[tuple[str, str | None], Answer]:
    """DuckDB's answer for every distinct (statement, user) that must
    return rows; limited statements get their column names and full row
    count, which the caller caps at the engine's default limit."""
    import duckdb

    sf_dir = f"{data_dir}/sf0.1"
    cons: dict[str | None, duckdb.DuckDBPyConnection] = {}

    def con_for(user: str | None):
        if user in cons:
            return cons[user]
        con = duckdb.connect()
        con.execute(f"ATTACH '{data_dir}/remote.duckdb' AS remote (READ_ONLY)")
        for t in datagen.TPCH_TABLES + ("documents", "embeddings"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
        for v, t in {**TPCH_VIEWS, **FED_VIEWS}.items():
            rules = POLICY_RULES.get(v) if user == AGENT_USER else None
            if rules is None:
                con.execute(f"CREATE VIEW {v} AS SELECT * FROM {t}")
                continue
            cols = [r[0] for r in con.execute(f"DESCRIBE {t}").fetchall()]
            proj = ", ".join(
                f"{rules['masking'][c]} AS {c}" if c in rules["masking"] else c for c in cols
            )
            con.execute(f"CREATE VIEW {v} AS SELECT {proj} FROM {t} WHERE {rules['rls_filter']}")
        cons[user] = con
        return con

    from strake_spark import inventory

    entry_sql = inventory.oracle_sql()
    out: dict[tuple[str, str | None], Answer] = {}
    try:
        for ops in plan.warmup + plan.clients:
            for op in ops:
                key = (op.text, op.user)
                if key in out or op.expect not in ("rows", "limited"):
                    continue
                sql = entry_sql[op.text] if op.kind == "operator" else op.text
                rel = con_for(op.user).sql(sql)
                cols = tuple(rel.columns)
                if op.expect == "limited":
                    (n,) = con_for(op.user).sql(f"SELECT count(*) FROM ({sql})").fetchone()
                    out[key] = Answer(cols, int(n), "")
                else:
                    rows = rel.fetchall()
                    out[key] = Answer(cols, len(rows), result_hash(list(cols), rows))
    finally:
        for con in cons.values():
            con.close()
    return out
