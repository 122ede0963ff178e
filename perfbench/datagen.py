"""Seeded inputs for the benchmark.

Two generators, both pure functions of ``seed``:

* ``write_tables`` writes the ten parquet tables the registry faces read
  (``catalog.TABLES``), with the column names, types and value shapes of
  the TPC-H-ish test tables the faces were written against.
* ``loki_rows`` returns the log rows the store stub serves, as columns.
  The stub process calls it with the same seed, so both sides agree on
  the data without shipping it over HTTP.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ("en", "de", "es", "fr", "zh")
LANG_WEIGHTS = (0.4, 0.15, 0.15, 0.15, 0.15)
PART_ADJ = ("blue", "cold", "hot", "red", "small", "new", "old", "large")
PART_NOUN = ("ring", "plate", "gear", "rod", "bolt", "anvil", "widget")
EVENT_TYPES = ("signup", "click", "error", "view", "purchase")
US_PER_DAY = 86_400_000_000


def _days_us(start: str, n_days: int, rng, size: int) -> np.ndarray:
    base = np.datetime64(start, "us").astype(np.int64)
    return base + rng.integers(0, n_days, size) * US_PER_DAY


def _money(rng, lo: float, hi: float, size: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, size), 2)


def _documents(rng, n: int) -> pa.Table:
    """Random word documents. Lengths follow a fixed schedule over 10..100
    words, exactly 5% are near-duplicates of an earlier document (its text
    plus ``dup``) and 0.2% exact copies, at seeded positions, so the text
    and dedup faces get the same amount of work on every seed."""
    n_near, n_exact = n // 20, max(n // 500, 1)
    copies = rng.choice(np.arange(n // 10, n), n_near + n_exact, replace=False)
    kind = dict.fromkeys(copies[:n_near].tolist(), " dup")
    kind.update(dict.fromkeys(copies[n_near:].tolist(), ""))
    texts: list[str] = []
    for i in range(n):
        if i in kind:
            texts.append(texts[int(rng.integers(0, i))] + kind[i])
        else:
            k = 10 + (i * 53) % 91
            texts.append(" ".join(WORDS[j] for j in rng.integers(0, len(WORDS), k)))
    ids = np.arange(n, dtype=np.int64)
    return pa.table(
        {
            "doc_id": ids,
            "text": texts,
            "lang": [LANGS[j] for j in rng.choice(len(LANGS), n, p=LANG_WEIGHTS)],
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def _embeddings(rng, n: int, dim: int = 64, labels: int = 10) -> pa.Table:
    centers = rng.normal(size=(labels, dim))
    label = rng.integers(0, labels, n)
    vecs = centers[label] + rng.normal(scale=0.8, size=(n, dim))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    vecs = vecs.astype(np.float32)
    return pa.table(
        {
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": label.astype(np.int32),
        }
    )


def make_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng([seed, 1])
    n_cust = int(150_000 * sf)
    n_supp = max(int(10_000 * sf), 25)
    n_part = int(200_000 * sf)
    n_ord = int(1_500_000 * sf)
    n_line = int(6_000_000 * sf)
    n_ev = int(1_000_000 * sf)
    n_docs = max(int(50_000 * sf), 500)
    n_emb = max(int(20_000 * sf), 500)
    i32 = np.int32
    tables = {
        "region": pa.table(
            {
                "r_regionkey": np.arange(5, dtype=i32),
                "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
            }
        ),
        "nation": pa.table(
            {
                "n_nationkey": np.arange(25, dtype=i32),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": (np.arange(25) % 5).astype(i32),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": np.arange(n_cust, dtype=np.int64),
                "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                "c_nationkey": rng.integers(0, 25, n_cust).astype(i32),
                "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
                "c_mktsegment": rng.choice(
                    ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"],
                    n_cust,
                ),
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": np.arange(n_supp, dtype=np.int64),
                "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
                "s_nationkey": rng.integers(0, 25, n_supp).astype(i32),
                "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
            }
        ),
        "part": pa.table(
            {
                "p_partkey": np.arange(n_part, dtype=np.int64),
                "p_name": [
                    f"{PART_ADJ[a]} {PART_NOUN[b]}"
                    for a, b in zip(
                        rng.integers(0, len(PART_ADJ), n_part),
                        rng.integers(0, len(PART_NOUN), n_part),
                    )
                ],
                "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
                "p_type": rng.choice(
                    ["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"], n_part
                ),
                "p_size": rng.integers(1, 51, n_part).astype(i32),
                "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2),
            }
        ),
        "orders": pa.table(
            {
                "o_orderkey": np.arange(n_ord, dtype=np.int64),
                "o_custkey": rng.integers(0, n_cust, n_ord),
                "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
                "o_totalprice": _money(rng, 1000, 500_000, n_ord),
                "o_orderdate": pa.array(
                    _days_us("1995-01-01", 2404, rng, n_ord), pa.timestamp("us")
                ),
                "o_orderpriority": rng.choice(
                    ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord
                ),
            }
        ),
        "lineitem": pa.table(
            {
                "l_orderkey": rng.integers(0, n_ord, n_line),
                "l_partkey": rng.integers(0, n_part, n_line),
                "l_suppkey": rng.integers(0, n_supp, n_line),
                "l_linenumber": rng.integers(1, 8, n_line).astype(i32),
                "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
                "l_extendedprice": _money(rng, 900, 105_000, n_line),
                "l_discount": rng.integers(0, 11, n_line) / 100.0,
                "l_tax": rng.integers(0, 9, n_line) / 100.0,
                "l_returnflag": rng.choice(["A", "N", "R"], n_line),
                "l_linestatus": rng.choice(["O", "F"], n_line),
                "l_shipdate": pa.array(
                    _days_us("1995-01-02", 2498, rng, n_line), pa.timestamp("us")
                ),
            }
        ),
        "events": pa.table(
            {
                "event_id": np.arange(n_ev, dtype=np.int64),
                "ts": pa.array(
                    np.sort(
                        np.datetime64("2024-01-01", "us").astype(np.int64)
                        + rng.integers(0, 30 * US_PER_DAY, n_ev)
                    ),
                    pa.timestamp("us"),
                ),
                "user_id": rng.integers(0, max(n_cust // 10, 1), n_ev),
                "event_type": rng.choice(EVENT_TYPES, n_ev),
                "value": np.round(rng.exponential(50.0, n_ev), 2),
                "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
            }
        ),
        "documents": _documents(rng, n_docs),
        "embeddings": _embeddings(rng, n_emb),
    }
    return tables


def write_tables(seed: int, sf: float, out_dir: str) -> dict[str, int]:
    """Write every table as ``<out_dir>/<name>.parquet``; return row counts."""
    os.makedirs(out_dir, exist_ok=True)
    counts = {}
    for name, table in make_tables(seed, sf).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = table.num_rows
    return counts


# --- Loki rows -------------------------------------------------------------

LOKI_T0_NS = 1_709_251_200_000_000_000  # 2024-03-01T00:00:00Z
LOKI_SPAN_NS = 100_000_000_000  # seeded rows live in [T0, T0 + 100 s)
LOKI_ROWS = 100_000
LOKI_APPS = 20
LOKI_LEVELS = ("info", "warn", "error")
LOKI_LEVEL_WEIGHTS = (0.6, 0.3, 0.1)
LOKI_VERBS = ("GET", "PUT", "POST", "DELETE")
LOKI_WORDS = ("ok", "retry", "timeout", "cache-miss", "slow", "denied", "moved")


def loki_rows(seed: int) -> dict[str, np.ndarray | list]:
    """LOKI_ROWS rows over LOKI_APPS x 3 streams in [T0, T0 + SPAN), sorted by
    timestamp (ties keep generation order). Timestamps fall on whole
    milliseconds drawn with replacement, so about 60% of rows share their
    timestamp with another row and page cuts land inside runs of equal
    timestamps. Every line is unique (it carries its row number)."""
    n = LOKI_ROWS
    rng = np.random.default_rng([seed, 2])
    ms = rng.integers(0, LOKI_SPAN_NS // 1_000_000, n)
    order = np.argsort(ms, kind="stable")
    ts = LOKI_T0_NS + ms[order] * 1_000_000
    app = rng.integers(0, LOKI_APPS, n)[order]
    level = rng.choice(len(LOKI_LEVELS), n, p=LOKI_LEVEL_WEIGHTS)[order]
    verb = rng.integers(0, len(LOKI_VERBS), n)
    word = rng.integers(0, len(LOKI_WORDS), n)
    took = rng.integers(1, 2000, n)
    lines = [
        f"{LOKI_VERBS[verb[i]]} /api/v{i % 3} row={i} took={took[i]}ms {LOKI_WORDS[word[i]]}"
        for i in range(n)
    ]
    return {
        "ts": ts.astype(np.int64),
        "app": app.astype(np.int32),
        "level": level.astype(np.int32),
        "line": [lines[j] for j in order],
    }


def stream_labels(app: int, level: int) -> dict[str, str]:
    return {"app": f"app{app:02d}", "level": LOKI_LEVELS[level]}
