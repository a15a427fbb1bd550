"""Seeded tables for the query suite.

The registry queries read parquet tables by name from one directory
(``QUERIES[name](spark, dir)``). The tables written here are the ones
the suite reads, with the column names and types of the repository's
test tables (TESTDATA.md): ``documents`` with about 5% planted near-duplicates and a
TPC-H-like ``lineitem``. The seed varies the values, never the row
counts.
"""

from __future__ import annotations

from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: table -> (rows, random stream); a table keeps its stream, so adding or
#: removing a table leaves the others' values unchanged
TABLES = {"documents": (600, 0), "lineitem": (60_000, 1)}

_VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the value "
    "vector window"
).split()
_LANGS = ("en", "zh", "es", "fr", "de")


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    texts: list[str] = []
    for i in range(n):
        if i > 20 and rng.random() < 0.05:
            src = texts[int(rng.integers(0, i))]
            texts.append(src if rng.random() < 0.2 else src + " dup")
        else:
            words = rng.choice(_VOCAB, size=int(rng.integers(10, 101)))
            texts.append(" ".join(words))
    langs = rng.choice(_LANGS, size=n, p=[0.4, 0.15, 0.15, 0.15, 0.15])
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": pa.array(langs.tolist()),
            "source": pa.array([f"src{i % 20}" for i in range(n)]),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        }
    )


def _lineitem(rng: np.random.Generator, n: int) -> pa.Table:
    days = rng.integers(0, 2498, size=n)
    ship = np.datetime64("1995-01-02T00:00:00", "us") + (days * 86400 * 10**6).astype(
        "timedelta64[us]"
    )
    return pa.table(
        {
            "l_orderkey": pa.array(rng.integers(1, n // 4, size=n).astype(np.int64)),
            "l_partkey": pa.array(rng.integers(1, 20_000, size=n).astype(np.int64)),
            "l_suppkey": pa.array(rng.integers(1, 1_000, size=n).astype(np.int64)),
            "l_linenumber": pa.array(rng.integers(1, 8, size=n).astype(np.int32)),
            "l_quantity": pa.array(rng.integers(1, 51, size=n).astype(np.float64)),
            "l_extendedprice": pa.array(np.round(rng.uniform(900, 105_000, size=n), 2)),
            "l_discount": pa.array(rng.integers(0, 11, size=n) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, size=n) / 100.0),
            "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, size=n)].tolist()),
            "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, size=n)].tolist()),
            "l_shipdate": pa.array(ship, type=pa.timestamp("us")),
        }
    )


def write_tables(out_dir: str | Path, seed: int) -> Path:
    """Write every table as ``<out_dir>/<name>.parquet``."""
    out = Path(out_dir)
    out.mkdir(parents=True, exist_ok=True)
    makers = {"documents": _documents, "lineitem": _lineitem}
    for name, (rows, stream) in TABLES.items():
        rng = np.random.default_rng([seed, stream])
        pq.write_table(makers[name](rng, rows), out / f"{name}.parquet")
    return out
