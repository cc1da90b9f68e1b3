"""Seeded input generators for the benchmark workloads.

Every input a workload reads is made here from ``--seed``; the program
under test only ever sees the files written.

* ``write_tables`` writes the ten testdata tables (TPC-H-ish star
  schema, an ``events`` stream, ``documents`` and ``embeddings``) as
  single parquet files, with the column types and value domains of the
  repo's ``sf*`` testdata (TESTDATA.md): the same key ranges and
  categorical domains, money in whole cents, day-granular order and
  ship dates, microsecond event timestamps, a 30-word document
  vocabulary with 5% planted near-duplicates, unit-norm 64-d vectors.
* ``repo_fanout`` turns the committed ``testdata_domain`` fixture repo
  into K synthetic repos: ``repo_name`` rewritten per repo, rows in a
  seeded order. Cross-repo targets (``other/repo``, ``ext/lib``) stay
  as they are, so every repo must answer the nine scenarios exactly
  like the fixture repo.
* ``documents`` is one fixed corpus (``DOCS_SEED``) in a seeded row
  order.
* ``batch_ids``, ``entry_order`` are the seeded choices of the
  ``databuild`` ingest batch and the ``analytics`` entry order.
"""

from __future__ import annotations

import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

FIXTURE_REPO = "owner/repo"

WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("FURNITURE", "MACHINERY", "AUTOMOBILE", "BUILDING", "HOUSEHOLD")
PART_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
PART_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
PART_TYPES = ("LARGE", "ECONOMY", "SMALL", "STANDARD", "MEDIUM", "PROMO")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("signup", "purchase", "view", "click", "error")

#: The document corpus is drawn from this fixed seed; only its row
#: order follows the run's seed. The curation funnel's DuckDB oracle
#: takes ~45 s on 500 documents, longer than a run may spend checking,
#: so the ``curation_funnel_report`` entry is checked against
#: ``FUNNEL_COUNTS``, that oracle's answer for this corpus (pinned by
#: perfbench/tests).
DOCS_SEED = 20240101

#: The oracle's per-stage survivor counts for the 500-document corpus.
FUNNEL_COUNTS = [
    (0, "raw", 500),
    (1, "cleaned_nonempty", 500),
    (2, "language", 462),
    (3, "quality", 70),
    (4, "repetition", 70),
    (5, "neardup_dropped", 69),
]

#: Row counts per table (the sf0.001 sizes of TESTDATA.md); ``lineitem``
#: follows from ``orders`` (4 lines per order on average, as there).
ANALYTICS_SIZES = {
    "customer": 150,
    "supplier": 10,
    "part": 200,
    "orders": 1500,
    "events": 1000,
    "documents": 500,
    "embeddings": 500,
}


def _money(rng, lo_cents: int, hi_cents: int, n: int) -> np.ndarray:
    # whole cents divided once: the same doubles the testdata holds
    return rng.integers(lo_cents, hi_cents + 1, n) / 100.0


def _days(rng, start: str, n_days: int, n: int) -> np.ndarray:
    base = np.datetime64(start, "us")
    return base + rng.integers(0, n_days + 1, n).astype("timedelta64[D]")


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def _documents(n: int) -> dict:
    rng = np.random.default_rng(DOCS_SEED)
    vocab = np.array(WORDS)
    texts = [
        " ".join(vocab[rng.integers(0, len(vocab), rng.integers(10, 101))])
        for _ in range(n)
    ]
    # 5% planted near-duplicates: another doc's text plus one word
    for i in rng.choice(n, n // 20, replace=False):
        texts[i] = texts[int(rng.integers(0, n))] + " dup"
    ids = np.arange(n, dtype=np.int64)
    return {
        "doc_id": ids,
        "text": texts,
        "lang": rng.choice(LANGS, n, p=LANG_P).tolist(),
        "source": [f"src{i % 20}" for i in ids],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }


def _embeddings(rng, n: int, dim: int = 64) -> dict:
    v = rng.normal(size=(n, dim)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return {
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n).astype(np.int32),
    }


def write_tables(out_dir: str, seed: int, sizes: dict) -> dict:
    """Write the ten tables under ``out_dir``; returns {table: rows}."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    i32 = np.int32
    _write(out_dir, "region", {
        "r_regionkey": np.arange(5, dtype=i32), "r_name": list(REGIONS),
    })
    _write(out_dir, "nation", {
        "n_nationkey": np.arange(25, dtype=i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": np.arange(25, dtype=i32) % 5,
    })
    n_cust, n_supp, n_part = sizes["customer"], sizes["supplier"], sizes["part"]
    _write(out_dir, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(i32),
        "c_acctbal": _money(rng, -99999, 999999, n_cust),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust).tolist(),
    })
    _write(out_dir, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(i32),
        "s_acctbal": _money(rng, -99999, 999999, n_supp),
    })
    keys = np.arange(n_part, dtype=np.int64)
    _write(out_dir, "part", {
        "p_partkey": keys,
        "p_name": [
            f"{PART_ADJ[a]} {PART_NOUN[b]}"
            for a, b in rng.integers(0, 8, (n_part, 2))
        ],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(PART_TYPES, n_part).tolist(),
        "p_size": rng.integers(1, 51, n_part).astype(i32),
        "p_retailprice": (9000 + keys % 1000) / 10.0,
    })
    n_ord = sizes["orders"]
    _write(out_dir, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": rng.choice(("F", "O", "P"), n_ord).tolist(),
        "o_totalprice": _money(rng, 100000, 50000000, n_ord),
        "o_orderdate": _days(rng, "1995-01-01", 2403, n_ord),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord).tolist(),
    })
    n_li = 4 * n_ord
    _write(out_dir, "lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_li),
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": rng.integers(1, 8, n_li).astype(i32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 90000, 10500000, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(("A", "N", "R"), n_li).tolist(),
        "l_linestatus": rng.choice(("O", "F"), n_li).tolist(),
        "l_shipdate": _days(rng, "1995-01-02", 2498, n_li),
    })
    n_ev = sizes["events"]
    # monotone microsecond timestamps over January 2024
    span_us = 30 * 86400 * 10**6
    ts = np.sort(rng.integers(0, span_us, n_ev))
    _write(out_dir, "events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": np.datetime64("2024-01-01", "us") + ts.astype("timedelta64[us]"),
        "user_id": rng.integers(0, max(1, (n_ev * 3) // 200), n_ev),
        "event_type": rng.choice(EVENT_TYPES, n_ev).tolist(),
        "value": np.round(rng.exponential(50.0, n_ev) * 100) / 100.0,
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    n_docs = sizes["documents"]
    pq.write_table(
        pa.table(_documents(n_docs)).take(rng.permutation(n_docs)),
        os.path.join(out_dir, "documents.parquet"),
    )
    _write(out_dir, "embeddings", _embeddings(rng, sizes["embeddings"]))
    return {
        t: pq.read_metadata(os.path.join(out_dir, f"{t}.parquet")).num_rows
        for t in (
            "region", "nation", "customer", "supplier", "part", "orders",
            "lineitem", "events", "documents", "embeddings",
        )
    }


def batch_ids(seed: int, doc_ids, share: float = 0.1) -> list[int]:
    """The seeded ~``share`` ingest batch of the ``databuild`` workload."""
    rng = random.Random(seed)
    return sorted(d for d in doc_ids if rng.random() < share)


def entry_order(seed: int, names: list[str]) -> list[str]:
    """The seeded run order of the ``analytics`` registry entries."""
    order = sorted(names)
    random.Random(seed).shuffle(order)
    return order


def repo_names(seed: int, k: int) -> list[str]:
    """K distinct seeded ``owner/repo`` names, none a cross-repo target."""
    rng = random.Random(seed)
    names: list[str] = []
    while len(names) < k:
        name = f"org{rng.randrange(10**4)}/repo{rng.randrange(10**4)}"
        if name not in names:
            names.append(name)
    return names


def repo_fanout(fixture_dir: str, out_dir: str, seed: int, k: int) -> dict:
    """Write K seeded repos as ``out_dir/<owner>_<repo>/<table>.parquet``.

    Each repo is the committed fixture repo with every occurrence of
    the fixture's own ``repo_name`` replaced by the repo's name, in the
    ``repo_name`` columns and in the URL/text fields that name the repo
    (so same-repo links stay same-repo), and with rows shuffled.
    Returns {repo_name: rows}.
    """
    rng = random.Random(seed)
    tables = {
        name: pq.read_table(os.path.join(fixture_dir, name)).to_pylist()
        for name in sorted(os.listdir(fixture_dir))
    }
    out = {}
    for repo in repo_names(seed, k):
        repo_dir = os.path.join(out_dir, repo.replace("/", "_"))
        os.makedirs(repo_dir, exist_ok=True)
        n = 0
        for name, rows in tables.items():
            rows = [_rename(r, repo) for r in rows]
            rng.shuffle(rows)
            schema = pq.read_schema(
                os.path.join(
                    fixture_dir, name, os.listdir(os.path.join(fixture_dir, name))[0]
                )
            )
            pq.write_table(
                pa.Table.from_pylist(rows, schema=schema),
                os.path.join(repo_dir, f"{name}.parquet"),
            )
            n += len(rows)
        out[repo] = n
    return out


def _rename(value, repo: str):
    """Replace the fixture repo's name inside one row, recursively."""
    if isinstance(value, dict):
        return {k: _rename(v, repo) for k, v in value.items()}
    if isinstance(value, list):
        return [_rename(v, repo) for v in value]
    if isinstance(value, str):
        return value.replace(FIXTURE_REPO, repo)
    return value
