"""Seeded input generators. Every input the package sees is produced
here, in the benchmark process, on one thread, from ``--seed``: the same
seed gives byte-identical files.

* :func:`click_tick` — one producer tick of clickstream JSON lines with
  the reference producer's distributions (2,000 users, 300 SKUs,
  event-type weights 0.75/0.15/0.07/0.03, price only on purchases) at
  its 20 events/s cadence, so 1,200 events span 60 s of event time.
* :func:`write_star_schema` — the ten tables the registered queries
  read (TPC-H-like star schema, ``events``, ``documents``,
  ``embeddings``) with the column types of the testdata in TESTDATA.md.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import random
import time
import uuid

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ------------------------------------------------------------ clickstream

EVENT_TYPES = ("page_view", "add_to_cart", "checkout", "purchase")
EVENT_WEIGHTS = (0.75, 0.15, 0.07, 0.03)
PAGES = ("/", "/search", "/product", "/cart", "/checkout")
REFERRERS = ("google", "email", "direct", "ads")
USER_AGENT = "Mozilla/5.0 (compatible; synthetic-load/1.0)"
EVENTS_PER_TICK = 1200
TICK_SECONDS = 60
CLICK_DAY = dt.datetime(2025, 9, 1, tzinfo=dt.timezone.utc)


def click_tick(seed: int, tick: int) -> list[str]:
    """JSON lines of one tick: EVENTS_PER_TICK events evenly spaced
    over [tick*60 s, (tick+1)*60 s) after CLICK_DAY midnight."""
    rng = random.Random(f"click:{seed}:{tick}")
    step = dt.timedelta(seconds=TICK_SECONDS / EVENTS_PER_TICK)
    t0 = CLICK_DAY + dt.timedelta(seconds=TICK_SECONDS * tick)
    lines = []
    for i in range(EVENTS_PER_TICK):
        etype = rng.choices(EVENT_TYPES, EVENT_WEIGHTS)[0]
        ts = (t0 + i * step).isoformat().replace("+00:00", "Z")
        lines.append(
            json.dumps(
                {
                    "event_ts": ts,
                    "user_id": f"u_{rng.randint(1, 2000)}",
                    "session_id": str(uuid.UUID(int=rng.getrandbits(128), version=4)),
                    "event_type": etype,
                    "page": rng.choice(PAGES),
                    "product_id": f"sku_{rng.randint(1, 300)}",
                    "price": round(rng.uniform(5, 120), 2) if etype == "purchase" else None,
                    "currency": "USD",
                    "referrer": rng.choice(REFERRERS),
                    "user_agent": USER_AGENT,
                }
            )
        )
    return lines


def land(path: str, lines: list[str]) -> float:
    """Write ``lines`` to ``path`` atomically (temp name, then rename,
    so a file source never lists a half-written file). Returns the
    landing stamp (perf_counter at rename)."""
    tmp = os.path.join(os.path.dirname(path), f".{os.path.basename(path)}.tmp")
    with open(tmp, "w") as f:
        f.write("\n".join(lines) + "\n")
    os.rename(tmp, path)
    return time.perf_counter()


# ------------------------------------------------------------- star schema

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
P_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
P_ADJ = ("small", "red", "blue", "green", "large", "steel", "shiny", "matte")
P_NOUN = ("ring", "widget", "bolt", "gear", "plate", "spring", "valve", "nut")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EV_TYPES = ("click", "error", "purchase", "signup", "view")
WORDS = (
    "the a data query row column table scan join hash merge sort filter "
    "group agg window stream batch spark key value order line part "
    "customer vector fast slow big small dup"
).split()
LANGS = ("en", "en", "zh", "de", "fr", "es")


def _days(rng: np.random.Generator, n: int, lo: str, hi: str) -> np.ndarray:
    a, b = np.datetime64(lo, "D"), np.datetime64(hi, "D")
    off = rng.integers(0, (b - a).astype(int) + 1, n)
    return (a + off).astype("datetime64[us]")


def star_tables(seed: int) -> dict[str, dict]:
    """Column dicts per table, with the row counts of the sf0.001
    testdata (150 customers, 6,000 lineitems, 1,000 events, 500
    documents)."""
    rng = np.random.default_rng(seed)
    r2 = lambda x: np.round(x, 2)  # noqa: E731
    n_cust, n_supp, n_part = 150, 10, 200
    n_ord, n_li, n_ev = 1500, 6000, 1000
    n_doc = n_vec = 500
    t: dict[str, dict] = {}
    t["region"] = {"r_regionkey": np.arange(5, dtype=np.int32), "r_name": list(REGIONS)}
    t["nation"] = {
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32),
    }
    t["customer"] = {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": r2(rng.uniform(-999.99, 9999.99, n_cust)),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust).tolist(),
    }
    t["supplier"] = {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": r2(rng.uniform(-999.99, 9999.99, n_supp)),
    }
    t["part"] = {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [
            f"{rng.choice(P_ADJ)} {rng.choice(P_NOUN)}" for _ in range(n_part)
        ],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(P_TYPES, n_part).tolist(),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": r2(900.0 + (np.arange(n_part) % 1000) / 10.0),
    }
    t["orders"] = {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": rng.choice(("F", "O", "P"), n_ord).tolist(),
        "o_totalprice": r2(rng.uniform(1000, 500000, n_ord)),
        "o_orderdate": _days(rng, n_ord, "1995-01-01", "2001-08-01"),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord).tolist(),
    }
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    t["lineitem"] = {
        "l_orderkey": rng.integers(0, n_ord, n_li).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": r2(qty * rng.uniform(900, 3000, n_li)),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(("A", "N", "R"), n_li).tolist(),
        "l_linestatus": rng.choice(("F", "O"), n_li).tolist(),
        "l_shipdate": _days(rng, n_li, "1995-01-02", "2001-11-04"),
    }
    ev_us = np.sort(rng.integers(0, 30 * 86400 * 10**6, n_ev))
    t["events"] = {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": np.datetime64("2024-01-01", "us") + ev_us.astype("timedelta64[us]"),
        "user_id": rng.integers(0, 15, n_ev).astype(np.int64),
        "event_type": rng.choice(EV_TYPES, n_ev).tolist(),
        "value": r2(rng.uniform(0.01, 490.0, n_ev)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    }
    texts: list[str] = []
    for i in range(n_doc):
        if i % 10 == 9:
            # planted near-duplicate: an earlier doc with one word swapped
            toks = texts[int(rng.integers(0, i))].split(" ")
            toks[int(rng.integers(0, len(toks)))] = str(rng.choice(WORDS))
        else:
            toks = rng.choice(WORDS, int(rng.integers(8, 100))).tolist()
        texts.append(" ".join(toks))
    t["documents"] = {
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, n_doc).tolist(),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64),
    }
    centers = rng.normal(0, 1, (10, 64))
    labels = rng.integers(0, 10, n_vec)
    vecs = centers[labels] + rng.normal(0, 0.6, (n_vec, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    t["embeddings"] = {
        "vec_id": np.arange(n_vec, dtype=np.int64),
        "embedding": [v.astype(np.float32).tolist() for v in vecs],
        "label": labels.astype(np.int32),
    }
    return t


_TYPES = {
    "embedding": pa.list_(pa.float32()),
}


def write_star_schema(out_dir: str, seed: int) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, cols in star_tables(seed).items():
        table = pa.table(
            {
                c: pa.array(v, type=_TYPES.get(c)) if c in _TYPES else pa.array(v)
                for c, v in cols.items()
            }
        )
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
