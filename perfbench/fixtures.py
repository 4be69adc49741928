"""Deterministic input tables for the benchmark.

The benchmark never reads data from outside its checkout, so it writes its
own copies of the two tables the measured queries read (``orders``, the
spatial points, and ``documents``, which also seed the image table), with
the same schemas as the engine's sf fixtures.  The tables depend only on ``SIZES`` and the fixed
generator seed: every run on every commit sees the same rows, so timings
compare and the DuckDB oracles and pins stay valid.
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

GENERATOR_SEED = 20261016
SIZES = {"orders": 12000, "documents": 200}
# the image table holds one synthetic image per document
SIZES["images"] = SIZES["documents"]

_WORDS = (
    "a the key agg row scan slow fast table value part hash merge batch line "
    "sort window spark order data column join small customer query big stream "
    "group filter index cell tile point edge region loop chain shard sample"
).split()
_LANGS = ["en", "en", "en", "de", "fr", "es", "zh"]


def _orders(rng: np.random.Generator, n: int) -> pa.Table:
    dates = np.datetime64("1992-01-01") + rng.integers(0, 2400, n).astype("timedelta64[D]")
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    return pa.table(
        {
            "o_orderkey": pa.array(np.arange(n, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(1, 1500, n, dtype=np.int64)),
            "o_orderstatus": pa.array(rng.choice(np.array(["O", "F", "P"]), n)),
            "o_totalprice": pa.array(np.round(rng.uniform(900, 500000, n), 2)),
            "o_orderdate": pa.array(dates.astype("datetime64[us]")),
            "o_orderpriority": pa.array(rng.choice(prio, n)),
        }
    )


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    texts: list[str] = []
    for i in range(n):
        # one document in eight is a near copy of an earlier one (two words
        # replaced), so the dedup operators find candidate pairs
        if i >= 8 and i % 8 == 0:
            words = texts[int(rng.integers(0, i))].split()
            for j in rng.integers(0, len(words), 2):
                words[j] = _WORDS[int(rng.integers(0, len(_WORDS)))]
        else:
            words = [_WORDS[k] for k in rng.integers(0, len(_WORDS), int(rng.integers(20, 80)))]
        texts.append(" ".join(words))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": pa.array([_LANGS[k] for k in rng.integers(0, len(_LANGS), n)]),
            "source": pa.array([f"src{k}" for k in rng.integers(0, 20, n)]),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        }
    )


def spec() -> str:
    """The table specification: the same text means the same rows."""
    return json.dumps({"seed": GENERATOR_SEED, "sizes": SIZES}, sort_keys=True)


def ensure_tables(data_dir: str) -> str:
    """Write the tables into ``data_dir`` unless a complete copy of the same
    specification is already there; returns ``data_dir``."""
    text = spec()
    marker = os.path.join(data_dir, "_SPEC")
    if os.path.exists(marker):
        with open(marker) as f:
            if f.read() == text:
                return data_dir
    shutil.rmtree(data_dir, ignore_errors=True)
    os.makedirs(data_dir)
    rng = np.random.default_rng(GENERATOR_SEED)
    tables = {
        "orders": _orders(rng, SIZES["orders"]),
        "documents": _documents(rng, SIZES["documents"]),
    }
    for name, table in tables.items():
        pq.write_table(table, os.path.join(data_dir, f"{name}.parquet"))
    with open(marker, "w") as f:
        f.write(text)
    return data_dir
