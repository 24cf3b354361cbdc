"""Benchmark input tables, generated from a seed.

``write_base`` writes the ten catalog tables (``catalog.TABLES``) in the
shape of the driver's sf-scaled test data: same names, column types,
value formats (two-decimal money, integral quantities, one-decimal
retail prices, naive microsecond timestamps) and cardinality ratios, one
parquet file with one row group per table. The queries' DuckDB oracles
are written against that shape, so every value keeps it.

``write_x10`` builds the 10x grain from a base directory: ten key-offset
replicas of every fact and entity table. Each key domain (custkey,
orderkey, partkey, suppkey, user, event, document, vector) gets ONE span
shared by every table that carries it, so a foreign key and its primary
key move together and every join keeps its sf0.1 cardinality per
replica. Measure columns are jittered per replica from the seed; text is
copied verbatim. ``region`` and ``nation`` are fixed dimensions and are
not replicated.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

TABLES = [
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
]

REPLICAS = 10

# key column -> domain; one offset span per domain across all tables
KEY_DOMAINS = {
    "customer": {"c_custkey": "custkey"},
    "supplier": {"s_suppkey": "suppkey"},
    "part": {"p_partkey": "partkey"},
    "orders": {"o_orderkey": "orderkey", "o_custkey": "custkey"},
    "lineitem": {
        "l_orderkey": "orderkey",
        "l_partkey": "partkey",
        "l_suppkey": "suppkey",
    },
    "events": {"event_id": "event", "user_id": "user"},
    "documents": {"doc_id": "document"},
    "embeddings": {"vec_id": "vector"},
}

# money-like columns keep two decimals under jitter; the bound keeps
# each one inside its base range
_CENTS_JITTER = {
    "customer": ["c_acctbal"],
    "supplier": ["s_acctbal"],
    "orders": ["o_totalprice"],
    "lineitem": ["l_extendedprice"],
    "events": ["value"],
}

_WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
_ADJ = ["red", "new", "hot", "small", "large", "blue", "old", "cold"]
_NOUN = ["bolt", "anvil", "ring", "rod", "plate", "gear", "nut", "pipe"]
_SEGMENTS = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_EVENT_TYPES = ["signup", "purchase", "view", "click", "error"]
_LANGS = ["en", "zh", "es", "fr", "de"]


def recipe_tag() -> str:
    """Digest of this file: generated data is cached under it, so any
    change to the recipe regenerates the tables."""
    with open(__file__, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()[:10]


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    cents = rng.integers(int(lo * 100), int(hi * 100) + 1, n)
    return np.round(cents / 100.0, 2)


def _days(rng, start: dt.date, end: dt.date, n: int) -> pa.Array:
    span = (end - start).days
    base = np.datetime64(start, "us")
    days = rng.integers(0, span + 1, n).astype("timedelta64[D]")
    return pa.array(base + days.astype("timedelta64[us]"), pa.timestamp("us"))


def _pick(rng, values: list[str], n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def base_tables(seed: int, sf: float = 0.1) -> dict[str, pa.Table]:
    """The ten tables at scale factor ``sf`` (lineitem = 6M x sf rows)."""
    rng = np.random.default_rng(seed)
    n_cust = int(150_000 * sf)
    n_supp = int(10_000 * sf)
    n_part = int(200_000 * sf)
    n_ord = int(1_500_000 * sf)
    n_li = int(6_000_000 * sf)
    n_ev = int(1_000_000 * sf)
    n_doc = int(50_000 * sf)
    n_emb = int(20_000 * sf)
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": pa.array(_REGIONS),
        }
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    out["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust, dtype=np.int32)),
            "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
            "c_mktsegment": _pick(rng, _SEGMENTS, n_cust),
        }
    )
    out["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp, dtype=np.int32)),
            "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp)),
        }
    )
    pk = np.arange(n_part, dtype=np.int64)
    names = [f"{a} {b}" for a in _ADJ for b in _NOUN]
    out["part"] = pa.table(
        {
            "p_partkey": pa.array(pk),
            "p_name": _pick(rng, names, n_part),
            "p_brand": _pick(rng, [f"Brand#{i}" for i in range(1, 26)], n_part),
            "p_type": _pick(
                rng, ["LARGE", "MEDIUM", "ECONOMY", "PROMO", "SMALL", "STANDARD"], n_part
            ),
            "p_size": pa.array(rng.integers(1, 51, n_part, dtype=np.int32)),
            "p_retailprice": pa.array(np.round(900 + (pk % 1000) / 10.0, 2)),
        }
    )
    out["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord, dtype=np.int64)),
            "o_orderstatus": _pick(rng, ["O", "F", "P"], n_ord),
            "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, n_ord)),
            "o_orderdate": _days(rng, dt.date(1995, 1, 1), dt.date(2001, 8, 1), n_ord),
            "o_orderpriority": _pick(rng, _PRIORITIES, n_ord),
        }
    )
    out["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_li, dtype=np.int64)),
            "l_partkey": pa.array(rng.integers(0, n_part, n_li, dtype=np.int64)),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_li, dtype=np.int64)),
            "l_linenumber": pa.array(rng.integers(1, 8, n_li, dtype=np.int32)),
            "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(np.float64)),
            "l_extendedprice": pa.array(_money(rng, 900.0, 105000.0, n_li)),
            "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
            "l_returnflag": _pick(rng, ["N", "R", "A"], n_li),
            "l_linestatus": _pick(rng, ["F", "O"], n_li),
            "l_shipdate": _days(rng, dt.date(1995, 1, 2), dt.date(2001, 11, 4), n_li),
        }
    )
    # events: one month of event time, ascending with event_id
    offs = np.sort(rng.integers(0, 30 * 86_400_000_000, n_ev))
    out["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
            "ts": pa.array(
                np.datetime64("2024-01-01T00:00:00", "us") + offs.astype("timedelta64[us]"),
                pa.timestamp("us"),
            ),
            "user_id": pa.array(
                rng.integers(0, max(1, int(15_000 * sf)), n_ev, dtype=np.int64)
            ),
            "event_type": _pick(rng, _EVENT_TYPES, n_ev),
            "value": pa.array(np.round(np.round(rng.exponential(50.0, n_ev) * 100) / 100, 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
        }
    )
    # documents: words from a small vocabulary; 5% are an earlier-drawn
    # document's text plus " dup" (near duplicates for dedup queries)
    texts = []
    lens = rng.integers(10, 101, n_doc)
    vocab = np.asarray(_WORDS, dtype=object)
    for n in lens:
        texts.append(" ".join(vocab[rng.integers(0, len(vocab), n)]))
    dup_ids = rng.choice(n_doc, n_doc // 20, replace=False)
    for i in dup_ids:
        texts[i] = texts[int(rng.integers(0, n_doc))] + " dup"
    out["documents"] = pa.table(
        {
            "doc_id": pa.array(np.arange(n_doc, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": _pick(rng, _LANGS, n_doc, p=[0.4, 0.15, 0.15, 0.15, 0.15]),
            "source": pa.array([f"src{i % 20}" for i in range(n_doc)]),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        }
    )
    vecs = rng.standard_normal((n_emb, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    out["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(n_emb, dtype=np.int64)),
            "embedding": pa.ListArray.from_arrays(
                pa.array(np.arange(0, n_emb * 64 + 1, 64, dtype=np.int32)),
                pa.array(vecs.reshape(-1)),
            ),
            "label": pa.array(rng.integers(0, 10, n_emb, dtype=np.int32)),
        }
    )
    return out


def write_base(out_dir: str, seed: int, sf: float = 0.1) -> None:
    """One ``<table>.parquet`` file per table, one row group each."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in base_tables(seed, sf).items():
        pq.write_table(
            table,
            os.path.join(out_dir, f"{name}.parquet"),
            row_group_size=max(1, table.num_rows),
        )


def domain_spans(tables: dict[str, pa.Table]) -> dict[str, int]:
    """max + 1 of every key domain, over every table carrying it."""
    spans: dict[str, int] = {}
    for name, cols in KEY_DOMAINS.items():
        for col, domain in cols.items():
            hi = int(pc.max(tables[name][col]).as_py()) + 1
            spans[domain] = max(spans.get(domain, 0), hi)
    return spans


def replica(
    table: pa.Table, name: str, r: int, spans: dict[str, int], seed: int
) -> pa.Table:
    """Replica ``r`` of one table: keys shifted by ``r`` domain spans,
    money columns jittered by a seeded few cents (replica-specific)."""
    for col, domain in KEY_DOMAINS.get(name, {}).items():
        i = table.schema.get_field_index(col)
        shifted = table[col].to_numpy() + np.int64(r * spans[domain])
        table = table.set_column(i, col, pa.array(shifted, table.schema.field(col).type))
    rng = np.random.default_rng([seed, r, TABLES.index(name)])
    for col in _CENTS_JITTER.get(name, []):
        i = table.schema.get_field_index(col)
        x = table[col].to_numpy()
        cents = np.round(x * 100).astype(np.int64) + rng.integers(-50, 51, len(x))
        if name == "events":
            cents = np.abs(cents)
        table = table.set_column(i, col, pa.array(np.round(cents / 100.0, 2)))
    if name == "lineitem":
        i = table.schema.get_field_index("l_quantity")
        q = table["l_quantity"].to_numpy() + rng.integers(-1, 2, table.num_rows)
        table = table.set_column(
            i, "l_quantity", pa.array(np.clip(q, 1, 50).astype(np.float64))
        )
    return table


def write_x10(base_dir: str, out_dir: str, seed: int, threads: int = 4) -> None:
    """``<table>.parquet/`` directories of REPLICAS part files (one per
    replica), so every scan of the 10x grain has REPLICAS input splits."""
    from concurrent.futures import ThreadPoolExecutor

    tables = {
        name: pq.read_table(os.path.join(base_dir, f"{name}.parquet"))
        for name in TABLES
    }
    spans = domain_spans(tables)

    def write(name: str, r: int) -> None:
        table = tables[name]
        pq.write_table(
            replica(table, name, r, spans, seed),
            os.path.join(out_dir, f"{name}.parquet", f"part-{r:05d}.parquet"),
            row_group_size=max(1, table.num_rows),
        )

    jobs = []
    for name in TABLES:
        os.makedirs(os.path.join(out_dir, f"{name}.parquet"), exist_ok=True)
        copies = REPLICAS if name in KEY_DOMAINS else 1
        jobs += [(name, r) for r in range(copies)]
    # parquet encoding releases the GIL, so threads write in parallel
    with ThreadPoolExecutor(threads) as pool:
        for done in [pool.submit(write, name, r) for name, r in jobs]:
            done.result()
