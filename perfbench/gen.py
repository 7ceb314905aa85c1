"""Seeded input generators for the benchmark.

Everything the workloads read is made here from ``--seed``: the raw
clickstream CSV months (FIXTURES.md F1), the TPC-H-shaped tables plus
``events``, ``documents`` and ``embeddings`` (the ten tables
``sparkgraft.io.readers.TABLES`` names, with the column types the lanes
and their DuckDB oracles expect), and the event files the streaming
sessionizer reads one per trigger.  The same seed gives byte-identical
files; the program under test only ever sees the files.
"""

from __future__ import annotations

import os
from datetime import datetime, timedelta

import numpy as np
import pandas as pd

RAW_COLUMNS = (
    "event_time",
    "event_type",
    "product_id",
    "category_id",
    "category_code",
    "brand",
    "price",
    "user_id",
    "user_session",
)

_VOCAB = (
    "agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table value "
    "vector window"
).split()
_MARKERS = {
    "en": ("the", "a", "of", "and", "to", "in", "is"),
    "es": ("el", "la", "de", "y", "que", "en", "es"),
    "de": ("der", "die", "das", "und", "ist", "von"),
    "fr": ("le", "les", "des", "et", "est", "un"),
    "zh": (),
}


def month_starts(first: str, n: int) -> list[datetime]:
    d = datetime.strptime(first, "%Y-%m")
    out = []
    for _ in range(n):
        out.append(d)
        d = (d.replace(day=28) + timedelta(days=5)).replace(day=1)
    return out


def clickstream_months(
    raw_dir: str, seed: int, months: list[str], rows_per_month: int, n_users: int
) -> int:
    """Write one ``YYYY-Mon.csv`` per month in the reference's raw format.

    Users are zipf-distributed with a bot-heavy head (the first users emit
    bursts seconds apart); category_code is ~30% null, brand ~15% null,
    user_session is arbitrary and sometimes empty.  Every month also gets
    rows at 23:58 on its last day (the next month's 00:01 row continues
    the session across the load boundary) and rows after 15:00 UTC, whose
    KST date is the next day.  Returns the total bytes written."""
    os.makedirs(raw_dir, exist_ok=True)
    total = 0
    for m in months:
        rng = np.random.default_rng([seed, int(m.replace("-", ""))])
        start = datetime.strptime(m, "%Y-%m")
        end = (start.replace(day=28) + timedelta(days=5)).replace(day=1)
        span = int((end - start).total_seconds())
        n = rows_per_month
        users = (rng.zipf(1.4, n) - 1) % n_users
        offs = rng.integers(0, span, n)
        bots = users < 3
        # bots click in bursts: pull their events onto a few hot minutes
        offs[bots] = (offs[bots] // 86400) * 86400 + rng.integers(0, 1800, bots.sum())
        # boundary straddlers: last-day 23:58 rows and first-day 00:01 rows
        k = max(1, n // 200)
        edge_users = rng.integers(0, n_users, k)
        users[:k] = edge_users
        offs[:k] = span - 120
        users[k : 2 * k] = edge_users
        offs[k : 2 * k] = 60
        ts = np.datetime64(start) + offs.astype("timedelta64[s]")
        etype = rng.choice(["view", "cart", "purchase"], n, p=[0.94, 0.04, 0.02])
        product = (rng.zipf(1.3, n) - 1) % 1000
        cat_id = rng.integers(0, 50, n)
        cat_code = np.where(
            rng.random(n) < 0.3, "", np.char.add("electronics.c", cat_id.astype(str))
        )
        brand = np.where(
            rng.random(n) < 0.15, "", np.char.add("brand", rng.integers(0, 100, n).astype(str))
        )
        session = np.where(rng.random(n) < 0.1, "", np.char.add("s", rng.integers(0, 10**6, n).astype(str)))
        df = pd.DataFrame(
            {
                "event_time": pd.to_datetime(ts).strftime("%Y-%m-%d %H:%M:%S UTC"),
                "event_type": etype,
                "product_id": product.astype(str),
                "category_id": cat_id.astype(str),
                "category_code": cat_code,
                "brand": brand,
                "price": rng.integers(1, 3001, n),
                "user_id": (users + 10000).astype(str),
                "user_session": session,
            }
        ).sort_values("event_time", kind="mergesort")
        path = os.path.join(raw_dir, start.strftime("%Y-%b.csv"))
        df.to_csv(path, index=False, columns=list(RAW_COLUMNS))
        total += os.path.getsize(path)
    return total


def _dates(rng, n: int, lo: str, hi: str) -> np.ndarray:
    a, b = np.datetime64(lo, "D"), np.datetime64(hi, "D")
    days = int((b - a) // np.timedelta64(1, "D"))
    return (a + rng.integers(0, days, n).astype("timedelta64[D]")).astype(
        "datetime64[us]"
    )


def _text(rng, lang: str, n_words: int) -> str:
    markers = _MARKERS[lang]
    words = rng.choice(_VOCAB, n_words)
    if markers:
        mask = rng.random(n_words) < 0.15
        words[mask] = rng.choice(markers, mask.sum())
    return " ".join(words)


def sf_tables(out_dir: str, seed: int, scale: float) -> dict[str, int]:
    """Write the ten lane tables as single parquet files; returns row counts.

    ``scale`` = 0.01 gives TPC-H sf0.01 sizes (60k lineitem rows) with
    10k events and 500 documents and embeddings."""
    rng = np.random.default_rng([seed, 7])
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_ord, n_li = int(150_000 * scale), int(1_500_000 * scale), int(6_000_000 * scale)
    n_part, n_supp, n_ev = int(20_000 * scale), max(10, int(10_000 * scale)), int(1_000_000 * scale)
    n_doc = n_emb = max(100, int(50_000 * scale))
    n_users = max(20, n_ev // 66)
    segs = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
    tables = {
        "region": pd.DataFrame(
            {
                "r_regionkey": np.arange(5, dtype="int32"),
                "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
            }
        ),
        "nation": pd.DataFrame(
            {
                "n_nationkey": np.arange(25, dtype="int32"),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": (np.arange(25) % 5).astype("int32"),
            }
        ),
        "customer": pd.DataFrame(
            {
                "c_custkey": np.arange(n_cust, dtype="int64"),
                "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                "c_nationkey": rng.integers(0, 25, n_cust).astype("int32"),
                "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
                "c_mktsegment": rng.choice(segs, n_cust),
            }
        ),
        "supplier": pd.DataFrame(
            {
                "s_suppkey": np.arange(n_supp, dtype="int64"),
                "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
                "s_nationkey": rng.integers(0, 25, n_supp).astype("int32"),
                "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
            }
        ),
        "part": pd.DataFrame(
            {
                "p_partkey": np.arange(n_part, dtype="int64"),
                "p_name": np.char.add(
                    np.char.add(rng.choice(["red ", "blue ", "small ", "green "], n_part), ""),
                    rng.choice(["ring", "widget", "bolt", "plate"], n_part),
                ),
                "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
                "p_type": rng.choice(
                    ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n_part
                ),
                "p_size": rng.integers(1, 51, n_part).astype("int32"),
                "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 2),
            }
        ),
        "orders": pd.DataFrame(
            {
                "o_orderkey": np.arange(n_ord, dtype="int64"),
                "o_custkey": rng.integers(0, n_cust, n_ord),
                "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
                "o_totalprice": np.round(rng.uniform(1000, 500000, n_ord), 2),
                "o_orderdate": _dates(rng, n_ord, "1995-01-01", "2001-08-02"),
                "o_orderpriority": rng.choice(
                    ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord
                ),
            }
        ),
        "lineitem": pd.DataFrame(
            {
                "l_orderkey": rng.integers(0, n_ord, n_li),
                "l_partkey": rng.integers(0, n_part, n_li),
                "l_suppkey": rng.integers(0, n_supp, n_li),
                "l_linenumber": rng.integers(1, 8, n_li).astype("int32"),
                "l_quantity": rng.integers(1, 51, n_li).astype("float64"),
                "l_extendedprice": np.round(rng.uniform(900, 105000, n_li), 2),
                "l_discount": np.round(rng.integers(0, 11, n_li) / 100, 2),
                "l_tax": np.round(rng.integers(0, 9, n_li) / 100, 2),
                "l_returnflag": rng.choice(["A", "N", "R"], n_li),
                "l_linestatus": rng.choice(["F", "O"], n_li),
                "l_shipdate": _dates(rng, n_li, "1995-01-02", "2001-11-05"),
            }
        ),
    }
    ev_ts = np.sort(
        np.datetime64("2024-01-01T00:00:00", "us")
        + rng.integers(0, 30 * 86400 * 10**6, n_ev).astype("timedelta64[us]")
    )
    tables["events"] = pd.DataFrame(
        {
            "event_id": np.arange(n_ev, dtype="int64"),
            "ts": ev_ts,
            "user_id": ((rng.zipf(1.5, n_ev) - 1) % n_users).astype("int64"),
            "event_type": rng.choice(["click", "error", "purchase", "signup", "view"], n_ev),
            "value": np.round(rng.uniform(0.01, 490.0, n_ev), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )
    langs = rng.choice(["en", "es", "de", "fr", "zh"], n_doc, p=[0.44, 0.14, 0.14, 0.13, 0.15])
    texts = [_text(rng, lang, int(rng.integers(8, 90))) for lang in langs]
    # planted near-duplicate clusters: exact copies, case/whitespace
    # variants and one-token edits of earlier documents
    for i in range(n_doc // 10, n_doc, 7):
        src = texts[int(rng.integers(0, i))]
        kind = i % 3
        if kind == 0:
            texts[i] = src
        elif kind == 1:
            texts[i] = "  " + src.upper().replace(" ", "  ")
        else:
            toks = src.split()
            toks[int(rng.integers(0, len(toks)))] = str(rng.choice(_VOCAB))
            texts[i] = " ".join(toks)
    tables["documents"] = pd.DataFrame(
        {
            "doc_id": np.arange(n_doc, dtype="int64"),
            "text": texts,
            "lang": langs,
            "source": [f"src{i % 20}" for i in range(n_doc)],
            "n_chars": np.array([len(t) for t in texts], dtype="int64"),
        }
    )
    vecs = rng.normal(size=(n_emb, 64)).astype("float32")
    # planted nearest-neighbour pairs: every 10th vector is a small
    # perturbation of its predecessor
    vecs[1::10] = vecs[0::10][: len(vecs[1::10])] + 0.05 * rng.normal(
        size=vecs[1::10].shape
    ).astype("float32")
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    tables["embeddings"] = pd.DataFrame(
        {
            "vec_id": np.arange(n_emb, dtype="int64"),
            "embedding": list(vecs),
            "label": rng.integers(0, 10, n_emb).astype("int32"),
        }
    )
    for name, df in tables.items():
        df.to_parquet(os.path.join(out_dir, f"{name}.parquet"), index=False)
    return {name: len(df) for name, df in tables.items()}


def stream_event_files(out_dir: str, seed: int, n_files: int, rows_per_file: int) -> list[str]:
    """Event files for the streaming sessionizer, ordered in event time:
    file ``i`` covers hours ``[6i, 6i+6)`` so sessions cross file (and so
    micro-batch and restart) boundaries."""
    rng = np.random.default_rng([seed, 11])
    os.makedirs(out_dir, exist_ok=True)
    paths = []
    base = np.datetime64("2024-01-01T00:00:00", "us")
    for i in range(n_files):
        offs = np.sort(rng.integers(i * 6 * 3600, (i + 1) * 6 * 3600, rows_per_file))
        df = pd.DataFrame(
            {
                "user_id": ((rng.zipf(1.5, rows_per_file) - 1) % 400).astype("int64"),
                "ts": base + (offs * 10**6).astype("timedelta64[us]"),
            }
        )
        path = os.path.join(out_dir, f"events-{i:03d}.parquet")
        df.to_parquet(path, index=False)
        paths.append(path)
    return paths
