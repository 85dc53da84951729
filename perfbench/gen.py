"""Seeded input generators for the benchmark workloads.

Everything here is a pure function of ``seed`` (and the size arguments):
the same seed yields byte-identical tables, a different seed different
ones.  Nothing is cached between runs; every run regenerates its inputs.

- ``status_table`` / ``device_dim_table``: the device-status corpus the
  sync job consumes and the subject -> token dimension it joins.
- ``write_sf_tables``: the TPC-H-like star schema plus the ``events``,
  ``documents`` and ``embeddings`` tables the query registry reads, in
  the same schemas as the registry's test data, written with pyarrow.
"""

from __future__ import annotations

import os
from datetime import datetime, timedelta, timezone

# the status fields the signal catalog converts: (field, type, lo, hi,
# percent of documents that carry the field).  Presence varies per field
# so per-signal counts differ and a per-name check has something to pin.
NUMERIC_FIELDS = [
    ("data_speed", "bigint", 0, 121, 97),
    ("data_engineSpeed", "double", 600.0, 4000.0, 90),
    ("data_fuelPercentRemaining", "double", 0.0, 1.0, 80),
    ("data_odometer", "double", 0.0, 300000.0, 99),
    ("data_coolantTemp", "bigint", 60, 111, 75),
    ("data_ambientTemp", "double", -20.0, 45.0, 85),
    ("data_batteryVoltage", "double", 11.0, 15.0, 95),
    ("data_soc", "double", 0.0, 1.0, 60),
    ("data_latitude", "double", 24.0, 49.0, 98),
    ("data_longitude", "double", -125.0, -66.0, 98),
    ("data_altitude", "double", 0.0, 2000.0, 70),
    ("data_nsat", "bigint", 4, 15, 65),
    ("data_runTime", "bigint", 0, 10001, 88),
    ("data_throttlePosition", "double", 0.0, 1.0, 72),
    ("data_engineLoad", "double", 0.0, 1.0, 72),
    ("data_year", "bigint", 2015, 2024, 100),
]
STRING_FIELDS = [
    ("data_make", ["Ford", "Toyota", "Tesla", "BMW"], 100),
    ("data_model", ["F150", "Corolla", "Model3", "X5"], 100),
]
DATA_FIELDS = [f[0] for f in NUMERIC_FIELDS] + [f[0] for f in STRING_FIELDS]

EPOCH = datetime(2024, 1, 1, tzinfo=timezone.utc)
DUP_FRAC = 0.05  # re-emitted copies, as a share of the distinct documents
NULL_PER_MILLE = 1  # documents without any data_* field, per thousand


def corpus_window(days: int) -> tuple[datetime, datetime]:
    """[start, stop) of a generated corpus spanning ``days`` days."""
    return EPOCH, EPOCH + timedelta(days=days)


def subject(tok: int) -> str:
    return f"0xdev{tok:06d}"


def status_table(seed: int, n_docs: int, n_tokens: int, days: int):
    """Device-status documents as a pyarrow Table, ordered by ``es_id``.

    ``n_docs`` distinct documents plus ``DUP_FRAC`` re-emitted copies
    (same content and ``id``, new ``es_id`` — the overlap the sync's dedup
    absorbs); ``NULL_PER_MILLE`` documents in a thousand carry no
    ``data_*`` field at all."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    rng = np.random.default_rng(seed)
    n_dup = int(n_docs * DUP_FRAC)
    src = np.concatenate([np.arange(n_docs), rng.integers(0, n_docs, n_dup)])
    tok = rng.integers(0, n_tokens, n_docs)[src]
    start_ms = int(EPOCH.timestamp() * 1000)
    ts_ms = (start_ms + rng.integers(0, days * 86_400_000, n_docs))[src]
    all_null = (rng.integers(0, 1000, n_docs) < NULL_PER_MILLE)[src]
    cols = {
        "es_id": [f"es-{seed}-{i}" for i in range(len(src))],
        "subject": [subject(t) for t in tok],
        "id": [f"evt-{i}" for i in src],
        "source": [f"dimo/integration/{t % 3}" for t in tok],
        "specversion": ["1.0"] * len(src),
        "type": ["zone.dimo.device.status.update"] * len(src),
        "time": pa.array(ts_ms, pa.timestamp("ms", tz="UTC")),
    }
    for name, typ, lo, hi, present in NUMERIC_FIELDS:
        if typ == "bigint":
            v = pa.array(rng.integers(lo, hi, n_docs)[src], pa.int64())
        else:
            v = pa.array(np.round(rng.uniform(lo, hi, n_docs), 4)[src], pa.float64())
        keep = (rng.integers(0, 100, n_docs) < present)[src] & ~all_null
        cols[name] = pc.if_else(pa.array(keep), v, pa.scalar(None, v.type))
    for name, choices, present in STRING_FIELDS:
        keep = (rng.integers(0, 100, n_docs) < present)[src] & ~all_null
        cols[name] = pa.array(
            [choices[t % len(choices)] if k else None for t, k in zip(tok, keep)], pa.string()
        )
    return pa.table(cols)


def missing_token(seed: int, tok: int) -> bool:
    """About 1% of subjects are absent from the device dim."""
    import hashlib

    d = hashlib.blake2b(f"{seed}:{tok}".encode(), digest_size=8).digest()
    return int.from_bytes(d, "little") % 100 == 0


def device_dim_table(seed: int, n_tokens: int):
    """subject -> token_id for every token except the ~1% missing ones."""
    import pyarrow as pa

    toks = [t for t in range(n_tokens) if not missing_token(seed, t)]
    return pa.table({
        "subject": [subject(t) for t in toks],
        "token_id": pa.array([1000 + t for t in toks], pa.int64()),
    })


# ---------------------------------------------------------------------------
# Registry tables (engine_rows)

WORDS = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()
LANGS = ["en", "en", "en", "zh", "es", "de", "fr"]
EVENT_TYPES = ["signup", "error", "click", "view", "purchase"]
SEGMENTS = ["MACHINERY", "FURNITURE", "BUILDING", "AUTOMOBILE", "HOUSEHOLD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["small", "large", "red", "blue", "hot", "old", "new", "green"]
PART_NOUN = ["ring", "widget", "bolt", "plate", "rod", "gear", "pipe", "nut"]
PART_TYPES = ["ECONOMY", "SMALL", "MEDIUM", "LARGE", "STANDARD", "PROMO"]
SF_TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def _days_after(day: datetime, offsets):
    import numpy as np

    return (np.datetime64(day, "D") + offsets.astype("timedelta64[D]")).astype("datetime64[us]")


def sf_tables(seed: int) -> dict:
    """The registry's ten tables as pyarrow Tables, at the size of the
    registry's sf0.01 test data (60k lineitems, 500 documents)."""
    import numpy as np
    import pyarrow as pa

    rng = np.random.default_rng(seed)
    n_cust = 1500
    n_supp = 100
    n_part = 2000
    n_ord = 15000
    n_li = 60000
    n_users = 150
    n_ev = 10000
    n_docs = 500
    n_vec = 500

    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n_cust)],
    })
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
    })
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": [
            f"{PART_ADJ[a]} {PART_NOUN[b]}"
            for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
        ],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": [PART_TYPES[i] for i in rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2),
    })
    o_day = rng.integers(0, 2404, n_ord)  # 1995-01-01 .. 2001-08-01
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": [["F", "O", "P"][i] for i in rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_ord), 2),
        "o_orderdate": pa.array(_days_after(datetime(1995, 1, 1), o_day), pa.timestamp("us")),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, n_ord)],
    })
    li_ord = rng.integers(0, n_ord, n_li)
    qty = rng.integers(1, 51, n_li).astype("float64")
    price = np.round(qty * rng.uniform(900.0, 2100.0, n_li), 2)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(li_ord, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": price,
        "l_discount": np.round(rng.integers(0, 11, n_li) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n_li) / 100.0, 2),
        "l_returnflag": [["R", "A", "N"][i] for i in rng.integers(0, 3, n_li)],
        "l_linestatus": [["O", "F"][i] for i in rng.integers(0, 2, n_li)],
        "l_shipdate": pa.array(
            _days_after(datetime(1995, 1, 1), o_day[li_ord] + rng.integers(1, 122, n_li)),
            pa.timestamp("us"),
        ),
    })
    ev_us = np.sort(rng.integers(0, 30 * 86_400_000_000, n_ev))
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(
            np.datetime64("2024-01-01T00:00:00", "us") + ev_us.astype("timedelta64[us]"),
            pa.timestamp("us"),
        ),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(60.0, n_ev) + 0.01, 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    texts: list[str] = []
    for i in range(n_docs):
        if i > 10 and rng.random() < 0.05:
            # near-duplicate: an earlier document with a marker appended
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            n_words = int(rng.integers(10, 100))
            texts.append(" ".join(WORDS[j] for j in rng.integers(0, len(WORDS), n_words)))
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": [LANGS[i] for i in rng.integers(0, len(LANGS), n_docs)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(x) for x in texts], pa.int64()),
    })
    vecs = rng.standard_normal((n_vec, 64)).astype("float32")
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_vec), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vec), pa.int32()),
    })
    return t


def write_sf_tables(seed: int, out_dir: str) -> dict[str, int]:
    """Write the registry tables as ``{out_dir}/{name}.parquet``; returns
    row counts per table."""
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    counts = {}
    for name, table in sf_tables(seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = table.num_rows
    return counts
