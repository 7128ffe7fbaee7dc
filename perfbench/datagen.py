"""Deterministic benchmark data, built once per checkout and reused.

The tables carry the repository's TPC-H-style schema (the one the
inventory queries and their DuckDB oracles are written against):
DuckDB's bundled ``dbgen`` supplies the TPC-H rows, projected and cast
to that schema, and a fixed-seed NumPy generator supplies the
``documents`` and ``embeddings`` tables the curation operators read.
The data never depends on the run's ``--seed``; the seed only picks the
statement sequence (workloads.py), so runs with different seeds read
identical bytes.

Layout under ``<dest>``:

- ``sf0.1/<table>.parquet``  TPC-H tables at scale factor 0.1 (~17 MB)
  plus ``documents`` and ``embeddings`` (500 rows each)
- ``remote.duckdb``          orders + lineitem copy served by the fake
  Postgres server and read by the ``duckdb`` source
"""

from __future__ import annotations

import os
import shutil

import numpy as np

SF = 0.1
VERSION = "v1"
TPCH_TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem")
N_DOCS = 500
N_VECS = 500
DIM = 64

_PROJECTIONS = {
    "region": "CAST(r_regionkey AS INTEGER) AS r_regionkey, r_name",
    "nation": "CAST(n_nationkey AS INTEGER) AS n_nationkey, n_name, "
              "CAST(n_regionkey AS INTEGER) AS n_regionkey",
    "customer": "CAST(c_custkey AS BIGINT) AS c_custkey, c_name, "
                "CAST(c_nationkey AS INTEGER) AS c_nationkey, "
                "CAST(c_acctbal AS DOUBLE) AS c_acctbal, c_mktsegment",
    "supplier": "CAST(s_suppkey AS BIGINT) AS s_suppkey, s_name, "
                "CAST(s_nationkey AS INTEGER) AS s_nationkey, "
                "CAST(s_acctbal AS DOUBLE) AS s_acctbal",
    "part": "CAST(p_partkey AS BIGINT) AS p_partkey, p_name, p_brand, p_type, "
            "CAST(p_size AS INTEGER) AS p_size, "
            "CAST(p_retailprice AS DOUBLE) AS p_retailprice",
    "orders": "CAST(o_orderkey AS BIGINT) AS o_orderkey, "
              "CAST(o_custkey AS BIGINT) AS o_custkey, o_orderstatus, "
              "CAST(o_totalprice AS DOUBLE) AS o_totalprice, "
              "CAST(o_orderdate AS TIMESTAMP) AS o_orderdate, o_orderpriority",
    "lineitem": "CAST(l_orderkey AS BIGINT) AS l_orderkey, "
                "CAST(l_partkey AS BIGINT) AS l_partkey, "
                "CAST(l_suppkey AS BIGINT) AS l_suppkey, "
                "CAST(l_linenumber AS INTEGER) AS l_linenumber, "
                "CAST(l_quantity AS DOUBLE) AS l_quantity, "
                "CAST(l_extendedprice AS DOUBLE) AS l_extendedprice, "
                "CAST(l_discount AS DOUBLE) AS l_discount, "
                "CAST(l_tax AS DOUBLE) AS l_tax, l_returnflag, l_linestatus, "
                "CAST(l_shipdate AS TIMESTAMP) AS l_shipdate",
}

_WORDS = (
    "the a data table row column scan join filter group order sort hash "
    "merge batch stream window query value key part line customer agg fast "
    "slow big small vector spark plan cache index shard replica commit "
    "token model train eval corpus shingle bucket band signature cluster"
).split()


def _documents(rng: np.random.Generator) -> list[tuple]:
    """Word-salad documents; a fifth are light edits of an earlier one,
    so MinHash and n-gram decontamination have real matches to find."""
    langs = ("en", "en", "en", "de", "fr", "es", "zh")
    rows: list[tuple] = []
    texts: list[list[str]] = []
    for doc_id in range(N_DOCS):
        if doc_id >= 20 and rng.random() < 0.2:
            words = list(texts[int(rng.integers(0, doc_id))])
            for _ in range(int(rng.integers(1, 4))):
                words[int(rng.integers(0, len(words)))] = _WORDS[int(rng.integers(0, len(_WORDS)))]
        else:
            n = int(rng.integers(25, 90))
            words = [_WORDS[int(i)] for i in rng.integers(0, len(_WORDS), n)]
        texts.append(words)
        text = " ".join(words)
        rows.append((doc_id, text, langs[int(rng.integers(0, len(langs)))],
                     f"src{int(rng.integers(0, 20))}", len(text)))
    return rows


def _embeddings(rng: np.random.Generator) -> tuple[list[int], np.ndarray, list[int]]:
    """Ten Gaussian clusters in DIM dimensions, stored as float32."""
    centers = rng.normal(0.0, 1.0, (10, DIM))
    labels = rng.integers(0, 10, N_VECS)
    vecs = centers[labels] + rng.normal(0.0, 0.6, (N_VECS, DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return list(range(N_VECS)), vecs.astype(np.float32), [int(x) for x in labels]


def _build(dest: str) -> None:
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    sf_dir = os.path.join(dest, "sf0.1")
    os.makedirs(sf_dir)
    con = duckdb.connect()
    try:
        con.execute(f"CALL dbgen(sf={SF})")
        for t in TPCH_TABLES:
            con.execute(
                f"COPY (SELECT {_PROJECTIONS[t]} FROM {t}) "
                f"TO '{sf_dir}/{t}.parquet' (FORMAT parquet)"
            )
    finally:
        con.close()
    rng = np.random.default_rng(20240917)
    docs = _documents(rng)
    pq.write_table(
        pa.table({
            "doc_id": pa.array([r[0] for r in docs], pa.int64()),
            "text": pa.array([r[1] for r in docs], pa.string()),
            "lang": pa.array([r[2] for r in docs], pa.string()),
            "source": pa.array([r[3] for r in docs], pa.string()),
            "n_chars": pa.array([r[4] for r in docs], pa.int64()),
        }),
        os.path.join(sf_dir, "documents.parquet"),
    )
    ids, vecs, labels = _embeddings(rng)
    pq.write_table(
        pa.table({
            "vec_id": pa.array(ids, pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }),
        os.path.join(sf_dir, "embeddings.parquet"),
    )
    con = duckdb.connect(os.path.join(dest, "remote.duckdb"))
    try:
        for t in ("orders", "lineitem"):
            con.execute(f"CREATE TABLE {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    finally:
        con.close()


def ensure_data(work_dir: str) -> str:
    """Return the data directory, building it on first use. The build
    goes to a private temp dir and is renamed into place, so a killed
    build never leaves a half-written data set behind."""
    dest = os.path.join(work_dir, f"data-{VERSION}")
    if os.path.isdir(dest):
        return dest
    tmp = f"{dest}.tmp-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    try:
        _build(tmp)
        os.replace(tmp, dest)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return dest
