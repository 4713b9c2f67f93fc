"""Seeded input generators. The program under test only ever sees what
these functions produce; the same seed always gives the same inputs.

- ``singer_tap``: a Singer tap's message stream (SCHEMA/RECORD/STATE).
- ``lineitem_frame``: lineitem-shaped rows with a unique surrogate key
  ``l_id`` (``(l_orderkey, l_linenumber)`` is not unique, so it cannot
  key an upsert).
- ``star_schema``: the ten tables the registry queries read, written as
  parquet (TPC-H-like star schema plus events, documents, embeddings).
"""

from __future__ import annotations

import datetime as dt
import json
import os
import random

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()

EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
EPOCH_2024 = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)

# --------------------------------------------------------------------------
# Singer tap
# --------------------------------------------------------------------------

_NULLABLE = lambda t, **kw: {"type": [t, "null"], **kw}  # noqa: E731

ORDERS_SCHEMA = {
    "type": "object",
    "properties": {
        "id": {"type": "integer"},
        "updated_at": {"type": "string", "format": "date-time"},
        "customer": {
            "type": "object",
            "properties": {
                "name": {"type": "string"},
                "tier": {"type": "string"},
                "address": {
                    "type": "object",
                    "properties": {
                        "city": {"type": "string"},
                        "zip": {"type": "string"},
                    },
                },
            },
        },
        "items": {
            "type": "array",
            "items": {
                "type": "object",
                "properties": {
                    "sku": {"type": "string"},
                    "qty": {"type": "integer"},
                    "price": {"type": "number"},
                },
            },
        },
        "total": {"type": "number"},
        "note": _NULLABLE("string"),
    },
}

EVENTS_SCHEMA = {
    "type": "object",
    "properties": {
        "event_id": {"type": "integer"},
        "ts": {"type": "string", "format": "date-time"},
        "user_id": {"type": "integer"},
        "event_type": {"type": "string"},
        "value": {"type": "number"},
        "session_id": {"type": "string"},
        "is_mobile": {"type": "boolean"},
    },
}

_WIDE_TYPES = (
    ("string", {}),
    ("integer", {}),
    ("number", {}),
    ("boolean", {}),
    ("string", {"format": "date-time"}),
)
PROFILES_SCHEMA = {
    "type": "object",
    "properties": {
        "user_id": {"type": "integer"},
        **{
            f"c{i:02d}": _NULLABLE(_WIDE_TYPES[i % 5][0], **_WIDE_TYPES[i % 5][1])
            for i in range(24)
        },
    },
}

TAP_STREAMS = {
    "orders": ORDERS_SCHEMA,
    "events": EVENTS_SCHEMA,
    "profiles": PROFILES_SCHEMA,
}

# flattened column set each stream must land with on disk
EXPECTED_COLUMNS = {
    "orders": {
        "id", "updated_at", "customer__name", "customer__tier",
        "customer__address__city", "customer__address__zip", "items",
        "total", "note",
    },
    "events": set(EVENTS_SCHEMA["properties"]),
    "profiles": set(PROFILES_SCHEMA["properties"]),
}


def _iso(seconds: float) -> str:
    t = EPOCH_2024 + dt.timedelta(seconds=float(seconds))
    return t.strftime("%Y-%m-%dT%H:%M:%S.%fZ")


def _orders_record(rng: random.Random, i: int, t: float) -> dict:
    n_items = rng.randint(1, 4)
    return {
        "id": i,
        "updated_at": _iso(t),
        "customer": {
            "name": f"Customer#{rng.randrange(50_000):09d}",
            "tier": rng.choice(("free", "pro", "team", "enterprise")),
            "address": {
                "city": f"city{rng.randrange(300)}",
                "zip": str(rng.randrange(10_000, 99_999)),
            },
        },
        "items": [
            {
                "sku": f"SKU-{rng.randrange(5_000):05d}",
                "qty": rng.randint(1, 9),
                "price": round(rng.uniform(1, 500), 2),
            }
            for _ in range(n_items)
        ],
        "total": round(rng.uniform(5, 5_000), 2),
        "note": None if rng.random() < 0.7 else " ".join(rng.choices(WORDS, k=5)),
    }


def _events_record(rng: random.Random, i: int, t: float) -> dict:
    return {
        "event_id": i,
        "ts": _iso(t),
        "user_id": rng.randrange(20_000),
        "event_type": rng.choice(EVENT_TYPES),
        "value": round(rng.expovariate(1 / 50.0), 2),
        "session_id": f"s{rng.getrandbits(30):x}",
        "is_mobile": rng.random() < 0.4,
    }


def _profiles_record(rng: random.Random, i: int, t: float) -> dict:
    rec: dict = {"user_id": i}
    for c in range(24):
        if rng.random() < 0.3:
            rec[f"c{c:02d}"] = None
            continue
        kind = c % 5
        if kind == 0:
            v = " ".join(rng.choices(WORDS, k=3))
        elif kind == 1:
            v = rng.randrange(-1_000_000, 1_000_000)
        elif kind == 2:
            v = round(rng.gauss(0, 1_000), 3)
        elif kind == 3:
            v = rng.random() < 0.5
        else:
            v = _iso(t - rng.uniform(0, 86_400 * 365))
        rec[f"c{c:02d}"] = v
    return rec


_RECORD_MAKERS = {
    "orders": _orders_record,
    "events": _events_record,
    "profiles": _profiles_record,
}


def singer_tap(
    seed: int, passes: int, records_per_state: int = 250
) -> tuple[list[str], list[bool], dict]:
    """A tap that syncs its three streams one after another, ``passes``
    times over (an incremental sync per pass). Each stream's segment is
    SCHEMA, ``records_per_state`` RECORDs, SCHEMA re-sent, STATE.
    Returns (lines, is_state flags, expected) where ``expected`` holds
    the cumulative record count per stream after each STATE and the
    compact-JSON payload of each STATE."""
    rng = random.Random(seed)
    lines: list[str] = []
    is_state: list[bool] = []
    counts = dict.fromkeys(TAP_STREAMS, 0)
    after_state: list[dict[str, int]] = []
    payloads: list[str] = []
    bookmarks: dict[str, dict] = {}
    t = rng.uniform(0, 86_400)
    dumps = lambda o: json.dumps(o, separators=(",", ":"))  # noqa: E731

    def emit(msg: dict, state: bool = False) -> None:
        lines.append(dumps(msg))
        is_state.append(state)

    for _ in range(passes):
        for stream, schema in TAP_STREAMS.items():
            schema_msg = {
                "type": "SCHEMA", "stream": stream, "schema": schema,
                "key_properties": [next(iter(schema["properties"]))],
            }
            emit(schema_msg)
            make = _RECORD_MAKERS[stream]
            for _ in range(records_per_state):
                t += rng.expovariate(2.0)
                emit({"type": "RECORD", "stream": stream,
                      "record": make(rng, counts[stream], t)})
                counts[stream] += 1
            emit(schema_msg)
            bookmarks[stream] = {"replication_key_value": _iso(t), "rows": counts[stream]}
            value = {"bookmarks": {k: dict(v) for k, v in bookmarks.items()}}
            payloads.append(dumps(value))
            after_state.append(dict(counts))
            emit({"type": "STATE", "value": value}, state=True)
    return lines, is_state, {"after_state": after_state, "payloads": payloads}


# --------------------------------------------------------------------------
# lineitem with a surrogate key (lake_ops)
# --------------------------------------------------------------------------

LINEITEM_JSON_SCHEMA = {
    "type": "object",
    "properties": {
        "l_id": {"type": "integer"},
        "l_orderkey": {"type": "integer"},
        "l_partkey": {"type": "integer"},
        "l_suppkey": {"type": "integer"},
        "l_linenumber": {"type": "integer"},
        "l_quantity": {"type": "number"},
        "l_extendedprice": {"type": "number"},
        "l_discount": {"type": "number"},
        "l_tax": {"type": "number"},
        "l_returnflag": {"type": "string"},
        "l_linestatus": {"type": "string"},
        "l_shipdate": {"type": "string", "format": "date-time"},
        "ship_year": {"type": "integer"},
    },
}

SHIP_YEARS = tuple(range(1995, 2003))


def lineitem_frame(rng: np.random.Generator, first_id: int, n: int,
                   years: tuple[int, ...] = SHIP_YEARS) -> pd.DataFrame:
    """``n`` lineitem rows with ids ``first_id..first_id+n-1``, shipped
    in ``years``. Quantities are whole numbers, so sums are exact."""
    year = rng.choice(np.asarray(years), n)
    day = rng.integers(0, 365, n)
    ship = pd.to_datetime(year.astype(str), format="%Y") + pd.to_timedelta(day, unit="D")
    return pd.DataFrame({
        "l_id": np.arange(first_id, first_id + n, dtype=np.int64),
        "l_orderkey": rng.integers(0, 1_500_000, n),
        "l_partkey": rng.integers(0, 200_000, n),
        "l_suppkey": rng.integers(0, 10_000, n),
        "l_linenumber": rng.integers(1, 8, n),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900, 105_000, n), 2),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": np.asarray(["A", "N", "R"])[rng.integers(0, 3, n)],
        "l_linestatus": np.asarray(["F", "O"])[rng.integers(0, 2, n)],
        "l_shipdate": ship.tz_localize("UTC"),
        "ship_year": year.astype(np.int64),
    })


def write_jsonl(df: pd.DataFrame, directory: str, files: int) -> int:
    """Stage ``df`` as ``files`` JSONL files (timestamps as ISO-8601
    UTC strings, the Singer wire form); returns bytes written."""
    import duckdb

    os.makedirs(directory, exist_ok=True)
    cols = ", ".join(
        f"strftime({c}, '%Y-%m-%dT%H:%M:%SZ') AS {c}"
        if isinstance(df[c].dtype, pd.DatetimeTZDtype) else c
        for c in df.columns
    )
    total = 0
    con = duckdb.connect()
    try:
        for i, chunk in enumerate(np.array_split(np.arange(len(df)), files)):
            con.register("chunk", df.iloc[chunk])
            path = os.path.join(directory, f"part-{i:05d}.jsonl")
            con.execute(f"COPY (SELECT {cols} FROM chunk) TO '{path}' (FORMAT JSON)")
            con.unregister("chunk")
            total += os.path.getsize(path)
    finally:
        con.close()
    return total


# --------------------------------------------------------------------------
# Star schema for the registry queries (query_mix)
# --------------------------------------------------------------------------

def _doc_text(rng: np.random.Generator) -> str:
    return " ".join(rng.choice(WORDS, int(rng.integers(10, 90))))


def star_schema(directory: str, sf: float, seed: int = 42) -> None:
    """Write region, nation, customer, supplier, part, orders, lineitem,
    events, documents and embeddings as ``<directory>/<name>.parquet``.
    Row counts scale with ``sf`` like TPC-H (lineitem = 6M x sf)."""
    rng = np.random.default_rng(seed)
    os.makedirs(directory, exist_ok=True)
    n_cust, n_supp = int(150_000 * sf), max(int(10_000 * sf), 10)
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_li, n_ev = int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb = int(50_000 * sf), max(int(50_000 * sf), 200)
    n_users = max(int(15_000 * sf), 50)
    i32 = lambda a: pa.array(a, pa.int32())  # noqa: E731

    def ts(base: str, seconds) -> pa.Array:
        t = pd.Timestamp(base) + pd.to_timedelta(seconds, unit="s")
        return pa.array(t.astype("datetime64[us]"), pa.timestamp("us"))

    def days(n: int, span_days: int) -> pa.Array:
        return ts("1995-01-01", rng.integers(0, span_days, n) * 86_400)

    tables = {
        "region": pa.table({
            "r_regionkey": i32(range(5)),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }),
        "nation": pa.table({
            "n_nationkey": i32(range(25)),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": i32([i % 5 for i in range(25)]),
        }),
        "customer": pa.table({
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": i32(rng.integers(0, 25, n_cust)),
            "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
            "c_mktsegment": np.asarray(
                ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
            )[rng.integers(0, 5, n_cust)],
        }),
        "supplier": pa.table({
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": i32(rng.integers(0, 25, n_supp)),
            "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
        }),
        "part": pa.table({
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": [
                f"{c} {o}" for c, o in zip(
                    np.asarray(["red", "blue", "green", "black", "white", "small",
                                "large", "shiny"])[rng.integers(0, 8, n_part)],
                    np.asarray(["bolt", "nut", "ring", "widget", "plate", "gear",
                                "spring", "valve"])[rng.integers(0, 8, n_part)],
                )
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": np.asarray(
                ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
            )[rng.integers(0, 6, n_part)],
            "p_size": i32(rng.integers(1, 51, n_part)),
            "p_retailprice": 900.0 + (np.arange(n_part) % 1000) / 10.0,
        }),
        "orders": pa.table({
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord),
            "o_orderstatus": np.asarray(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
            "o_totalprice": np.round(rng.uniform(1000, 500_000, n_ord), 2),
            "o_orderdate": days(n_ord, 2404),
            "o_orderpriority": np.asarray(
                ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
            )[rng.integers(0, 5, n_ord)],
        }),
        "lineitem": pa.table({
            "l_orderkey": rng.integers(0, n_ord, n_li),
            "l_partkey": rng.integers(0, n_part, n_li),
            "l_suppkey": rng.integers(0, n_supp, n_li),
            "l_linenumber": i32(rng.integers(1, 8, n_li)),
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": np.round(rng.uniform(900, 105_000, n_li), 2),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": np.asarray(["A", "N", "R"])[rng.integers(0, 3, n_li)],
            "l_linestatus": np.asarray(["F", "O"])[rng.integers(0, 2, n_li)],
            "l_shipdate": days(n_li, 2498),
        }),
        "events": pa.table({
            "event_id": np.arange(n_ev, dtype=np.int64),
            "ts": ts("2024-01-01", np.sort(rng.uniform(0, 30 * 86_400, n_ev))),
            "user_id": rng.integers(0, n_users, n_ev),
            "event_type": np.asarray(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
            "value": np.round(rng.exponential(50.0, n_ev) + 0.01, 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }),
    }
    texts: list[str] = []
    for i in range(n_doc):
        if i > 0 and rng.random() < 0.05:
            # near-duplicate of an earlier document
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(_doc_text(rng))
    tables["documents"] = pa.table({
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": np.asarray(["de", "en", "es", "fr", "zh"])[rng.integers(0, 5, n_doc)],
        "source": [f"src{s}" for s in rng.integers(0, 20, n_doc)],
        "n_chars": np.asarray([len(t) for t in texts], dtype=np.int64),
    })
    labels = rng.integers(0, 10, n_emb)
    centers = rng.normal(0, 1, (10, 64))
    vecs = centers[labels] + rng.normal(0, 0.6, (n_emb, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    tables["embeddings"] = pa.table({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
        "label": i32(labels),
    })
    for name, table in tables.items():
        pq.write_table(table, os.path.join(directory, f"{name}.parquet"))
