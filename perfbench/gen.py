"""Seeded input generator for the benchmark.

Builds the engine's ten input tables (TPC-H-ish star schema plus the
``events``, ``documents`` and ``embeddings`` tables) from a seed alone,
with the same column names, types and value domains as the engine's
test tables. It reads nothing: the seed and a size profile fully
determine every byte, so one seed always gives byte-identical files.

Keys are dense (0..n-1, as in the test tables) so every foreign key
joins; the seed picks the values and the on-disk row order. Sizes are
fixed per profile, so two seeds give inputs of the same shape and the
run-to-run spread of a workload measures the engine and the host, not
the input size.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# rows per table; lineitem is 1..7 lines per order (about 4 on average).
# ingest_nightly and graph_iterate get the row counts of the engine's
# sf0.01 test tables for every table their steps read (lineitem about
# 60,000): a tenth of sf0.1, the largest scale at which 70 fresh-process
# runs of the three workloads end within the benchmark's time budget
# (perfbench/RECORD.md has the sf0.1 timings). The tables a workload
# does not read are kept small.
PROFILES: dict[str, dict[str, int]] = {
    "ingest_nightly": dict(
        customer=1500, supplier=100, part=2000, orders=15000, events=10000,
        documents=50, embeddings=50,
    ),
    "graph_iterate": dict(
        customer=150, supplier=10, part=2000, orders=15000, events=200,
        documents=300, embeddings=500,
    ),
    "media_decode": dict(
        customer=50, supplier=5, part=50, orders=100, events=100,
        documents=4000, embeddings=50,
    ),
    # the self-test's profile: the row counts of the engine's sf0.001
    # test tables
    "tiny": dict(
        customer=150, supplier=10, part=200, orders=1500, events=1000,
        documents=500, embeddings=500,
    ),
}

VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join "
    "key line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
ADJ = "blue cold hot large new old red small".split()
NOUN = "anvil bolt gear gizmo plate ring rod widget".split()
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PTYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
LANGS = ("de", "en", "es", "fr", "zh")
LANG_P = (0.14, 0.41, 0.15, 0.15, 0.15)
EMB_DIM = 64

_US = np.int64(1_000_000)
_DAY_US = 86_400 * _US


def _epoch_us(d: dt.date) -> int:
    return int((dt.datetime(d.year, d.month, d.day) - dt.datetime(1970, 1, 1)).total_seconds()) * 1_000_000


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    cents = rng.integers(int(lo * 100), int(hi * 100) + 1, n)
    return np.round(cents / 100.0, 2)


def _days(rng: np.random.Generator, lo: dt.date, hi: dt.date, n: int) -> pa.Array:
    span = (hi - lo).days
    us = _epoch_us(lo) + rng.integers(0, span + 1, n).astype(np.int64) * _DAY_US
    return pa.array(us, pa.timestamp("us"))


def _shuffled(rng: np.random.Generator, table: pa.Table) -> pa.Table:
    return table.take(pa.array(rng.permutation(table.num_rows)))


def _texts(rng: np.random.Generator, n: int) -> list[str]:
    """Word salad over the test tables' 31-word vocabulary; about one
    doc in eight is a near-copy of an earlier one (one or two words
    swapped), so the near-duplicate graph has real components."""
    texts: list[str] = []
    vocab = np.array(VOCAB)
    for i in range(n):
        if i > 8 and rng.random() < 0.125:
            words = texts[int(rng.integers(0, i))].split()
            for _ in range(int(rng.integers(1, 3))):
                words[int(rng.integers(0, len(words)))] = str(rng.choice(vocab))
            texts.append(" ".join(words))
        else:
            texts.append(" ".join(rng.choice(vocab, int(rng.integers(10, 101)))))
    return texts


def build(profile: str, seed: int) -> dict[str, pa.Table]:
    """All ten tables for ``profile`` and ``seed``, in memory."""
    size = PROFILES[profile]
    # one independent stream per table: adding rows to one table never
    # shifts another table's values
    streams = np.random.SeedSequence([seed, 20261017]).spawn(len(TABLES))
    rng = {t: np.random.default_rng(s) for t, s in zip(TABLES, streams)}
    out: dict[str, pa.Table] = {}

    out["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": list(REGIONS)}
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )

    r, n = rng["customer"], size["customer"]
    out["customer"] = _shuffled(r, pa.table(
        {
            "c_custkey": pa.array(np.arange(n, dtype=np.int64)),
            "c_name": [f"Customer#{i:09d}" for i in range(n)],
            "c_nationkey": pa.array(r.integers(0, 25, n), pa.int32()),
            "c_acctbal": _money(r, -999.99, 9999.99, n),
            "c_mktsegment": list(r.choice(SEGMENTS, n)),
        }
    ))

    r, n = rng["supplier"], size["supplier"]
    out["supplier"] = _shuffled(r, pa.table(
        {
            "s_suppkey": pa.array(np.arange(n, dtype=np.int64)),
            "s_name": [f"Supplier#{i:09d}" for i in range(n)],
            "s_nationkey": pa.array(r.integers(0, 25, n), pa.int32()),
            "s_acctbal": _money(r, -999.99, 9999.99, n),
        }
    ))

    r, n = rng["part"], size["part"]
    keys = np.arange(n, dtype=np.int64)
    out["part"] = _shuffled(r, pa.table(
        {
            "p_partkey": pa.array(keys),
            "p_name": [f"{a} {b}" for a, b in zip(r.choice(ADJ, n), r.choice(NOUN, n))],
            "p_brand": [f"Brand#{b}" for b in r.integers(1, 26, n)],
            "p_type": list(r.choice(PTYPES, n)),
            "p_size": pa.array(r.integers(1, 51, n), pa.int32()),
            "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 2),
        }
    ))

    r, n = rng["orders"], size["orders"]
    out["orders"] = _shuffled(r, pa.table(
        {
            "o_orderkey": pa.array(np.arange(n, dtype=np.int64)),
            "o_custkey": pa.array(r.integers(0, size["customer"], n).astype(np.int64)),
            "o_orderstatus": list(r.choice(("F", "O", "P"), n)),
            "o_totalprice": _money(r, 1000.0, 500000.0, n),
            "o_orderdate": _days(r, dt.date(1995, 1, 1), dt.date(2001, 8, 1), n),
            "o_orderpriority": list(r.choice(PRIORITIES, n)),
        }
    ))

    r = rng["lineitem"]
    lines = r.integers(1, 8, size["orders"])
    m = int(lines.sum())
    out["lineitem"] = _shuffled(r, pa.table(
        {
            "l_orderkey": pa.array(np.repeat(np.arange(size["orders"], dtype=np.int64), lines)),
            "l_partkey": pa.array(r.integers(0, size["part"], m).astype(np.int64)),
            "l_suppkey": pa.array(r.integers(0, size["supplier"], m).astype(np.int64)),
            "l_linenumber": pa.array(np.concatenate([np.arange(1, k + 1) for k in lines]), pa.int32()),
            "l_quantity": r.integers(1, 51, m).astype(np.float64),
            "l_extendedprice": _money(r, 900.0, 100000.0, m),
            "l_discount": np.round(r.integers(0, 11, m) / 100.0, 2),
            "l_tax": np.round(r.integers(0, 9, m) / 100.0, 2),
            "l_returnflag": list(r.choice(("A", "N", "R"), m)),
            "l_linestatus": list(r.choice(("F", "O"), m)),
            "l_shipdate": _days(r, dt.date(1995, 1, 2), dt.date(2001, 11, 4), m),
        }
    ))

    # events: 30 days of January 2024 in time order, ~67 events per user
    r, n = rng["events"], size["events"]
    start = _epoch_us(dt.date(2024, 1, 1))
    ts = np.sort(start + r.integers(0, 30 * int(_DAY_US), n).astype(np.int64))
    out["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n, dtype=np.int64)),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(r.integers(0, max(1, n // 67), n).astype(np.int64)),
            "event_type": list(r.choice(EVENT_TYPES, n)),
            "value": _money(r, 0.0, 560.21, n),
            "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n)],
        }
    )

    r, n = rng["documents"], size["documents"]
    texts = _texts(r, n)
    out["documents"] = _shuffled(r, pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": texts,
            "lang": list(r.choice(LANGS, n, p=LANG_P)),
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    ))

    # embeddings: ten label clusters, unit-scale gaussian around each centre
    r, n = rng["embeddings"], size["embeddings"]
    labels = r.integers(0, 10, n)
    centres = r.normal(0.0, 0.15, (10, EMB_DIM))
    vecs = (centres[labels] + r.normal(0.0, 0.05, (n, EMB_DIM))).astype(np.float32)
    out["embeddings"] = _shuffled(r, pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    ))
    return out


def write(profile: str, seed: int, dest: str) -> None:
    """Write every table of ``profile``/``seed`` into ``dest``. Writes
    into a sibling temp dir and renames it into place, so a killed run
    never leaves a half-written input."""
    tables = build(profile, seed)
    tmp = dest.rstrip("/") + f".tmp{os.getpid()}"
    os.makedirs(tmp, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(
            table,
            os.path.join(tmp, f"{name}.parquet"),
            compression="snappy",
            row_group_size=1 << 20,
            store_schema=False,
        )
    os.replace(tmp, dest)


def digest(dest: str) -> str:
    """sha256 over every table's bytes — the determinism fingerprint."""
    h = hashlib.sha256()
    for name in TABLES:
        with open(os.path.join(dest, f"{name}.parquet"), "rb") as fh:
            h.update(name.encode())
            h.update(fh.read())
    return h.hexdigest()


def ensure(profile: str, seed: int, root: str) -> str:
    """The input dir for ``profile``/``seed`` under ``root``, generated
    on first use and reused afterwards. The dir name carries a hash of
    this file, so inputs made by an earlier version are never reused."""
    with open(__file__, "rb") as fh:
        version = hashlib.sha256(fh.read()).hexdigest()[:12]
    dest = os.path.join(root, f"{profile}-seed{seed}-{version}")
    if not os.path.isdir(dest):
        os.makedirs(root, exist_ok=True)
        write(profile, seed, dest)
    return dest
