"""Seeded input generation for the benchmark.

Everything here is NumPy + PyArrow only: no Spark, no clock, no host
state. The same ``(seed, sizes)`` always yields byte-identical parquet
files, so two runs with one seed feed the engine the same bytes.

Two input families:

- ``star_tables``: the star schema plus the events, documents and
  embeddings tables the registry queries read, with the column names,
  types and value shapes of the registry's test data.
- ``etl_sources``: a migration source derived from the star tables,
  with a held-back delta for the incremental re-run, an update batch
  for the upsert, key variants for the dedup normalisation and
  constraint violators for the quarantine path.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Row counts of the star tables at scale factor 1; every table but the
# fixed-size dimensions scales linearly (region/nation are constant).
_SF1_ROWS = {
    "customer": 150_000,
    "supplier": 10_000,
    "part": 200_000,
    "orders": 1_500_000,
    "lineitem": 6_000_000,
    "events": 1_000_000,
}
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
_LANGS = ["en", "zh", "es", "de", "fr"]
_LANG_P = [0.42, 0.15, 0.15, 0.14, 0.14]

_EPOCH = np.datetime64("1970-01-01", "D")


def _rng(seed: int, stream: str) -> np.random.Generator:
    """One independent generator per (seed, table): adding a table or
    a column to one stream never shifts the values of another."""
    return np.random.default_rng([seed, *stream.encode()])


def _cents(rng: np.random.Generator, lo: int, hi: int, n: int) -> np.ndarray:
    """Money as whole cents / 100, so every value has two exact
    decimals the way the registry's exact-integer aggregates expect."""
    return rng.integers(lo, hi, n) / 100.0


def _days(rng: np.random.Generator, first: str, last: str, n: int) -> np.ndarray:
    lo = (np.datetime64(first, "D") - _EPOCH).astype(int)
    hi = (np.datetime64(last, "D") - _EPOCH).astype(int)
    return (_EPOCH + rng.integers(lo, hi + 1, n)).astype("datetime64[us]")


def _rows(sf: float, name: str) -> int:
    return max(10, int(round(_SF1_ROWS[name] * sf)))


def star_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """The ten tables the registry's catalog resolves, at ``sf``."""
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": _REGIONS,
        }
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )

    n = _rows(sf, "customer")
    r = _rng(seed, "customer")
    out["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n, dtype=np.int64)),
            "c_name": [f"Customer#{i:09d}" for i in range(n)],
            "c_nationkey": pa.array(r.integers(0, 25, n).astype(np.int32)),
            "c_acctbal": _cents(r, -99_999, 1_000_000, n),
            "c_mktsegment": np.array(_SEGMENTS)[r.integers(0, 5, n)],
        }
    )
    n_cust = n

    n = _rows(sf, "supplier")
    r = _rng(seed, "supplier")
    out["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n, dtype=np.int64)),
            "s_name": [f"Supplier#{i:09d}" for i in range(n)],
            "s_nationkey": pa.array(r.integers(0, 25, n).astype(np.int32)),
            "s_acctbal": _cents(r, -99_999, 1_000_000, n),
        }
    )
    n_supp = n

    n = _rows(sf, "part")
    r = _rng(seed, "part")
    names = [f"{a} {b}" for a in _ADJ for b in _NOUN]
    out["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(n, dtype=np.int64)),
            "p_name": np.array(names)[r.integers(0, len(names), n)],
            "p_brand": [f"Brand#{b}" for b in r.integers(1, 26, n)],
            "p_type": np.array(_PTYPES)[r.integers(0, len(_PTYPES), n)],
            "p_size": pa.array(r.integers(1, 51, n).astype(np.int32)),
            "p_retailprice": (90_000 + np.arange(n) % 1000 * 10) / 100.0,
        }
    )
    n_part = n

    n = _rows(sf, "orders")
    r = _rng(seed, "orders")
    out["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n, dtype=np.int64)),
            "o_custkey": pa.array(r.integers(0, n_cust, n).astype(np.int64)),
            "o_orderstatus": np.array(["F", "O", "P"])[r.integers(0, 3, n)],
            "o_totalprice": _cents(r, 100_000, 50_000_000, n),
            "o_orderdate": _days(r, "1995-01-01", "2001-08-01", n),
            "o_orderpriority": np.array(_PRIORITIES)[r.integers(0, 5, n)],
        }
    )
    n_ord = n

    n = _rows(sf, "lineitem")
    r = _rng(seed, "lineitem")
    out["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(r.integers(0, n_ord, n).astype(np.int64)),
            "l_partkey": pa.array(r.integers(0, n_part, n).astype(np.int64)),
            "l_suppkey": pa.array(r.integers(0, n_supp, n).astype(np.int64)),
            "l_linenumber": pa.array(r.integers(1, 8, n).astype(np.int32)),
            "l_quantity": r.integers(1, 51, n).astype(np.float64),
            "l_extendedprice": _cents(r, 90_000, 10_500_000, n),
            "l_discount": r.integers(0, 11, n) / 100.0,
            "l_tax": r.integers(0, 9, n) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[r.integers(0, 3, n)],
            "l_linestatus": np.array(["F", "O"])[r.integers(0, 2, n)],
            "l_shipdate": _days(r, "1995-01-02", "2001-11-04", n),
        }
    )

    n = _rows(sf, "events")
    r = _rng(seed, "events")
    span_us = 30 * 86_400 * 1_000_000
    ts = np.sort(r.integers(0, span_us, n)) + np.datetime64("2024-01-01", "us").astype(
        np.int64
    )
    out["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n, dtype=np.int64)),
            "ts": pa.array(ts.astype("datetime64[us]")),
            "user_id": pa.array(
                r.integers(0, max(10, n_cust // 10), n).astype(np.int64)
            ),
            "event_type": np.array(_EVENT_TYPES)[r.integers(0, 5, n)],
            "value": np.maximum(np.round(r.exponential(50.0, n), 2), 0.01),
            "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n)],
        }
    )

    out["documents"] = _documents(seed, n_docs=max(500, int(50_000 * sf)))
    out["embeddings"] = _embeddings(seed, n_vec=max(500, int(20_000 * sf)))
    return out


def _documents(seed: int, n_docs: int) -> pa.Table:
    """Bag-of-words documents over a 30-word vocabulary; one in twenty
    is a copy of another document with `` dup`` appended, so the
    near-duplicate operators have true positives."""
    r = _rng(seed, "documents")
    texts = [
        " ".join(np.array(_WORDS)[r.integers(0, len(_WORDS), r.integers(10, 100))])
        for _ in range(n_docs)
    ]
    for i in r.choice(n_docs, n_docs // 20, replace=False):
        src = int(r.integers(0, n_docs))
        if src != i:
            texts[i] = texts[src] + " dup"
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
            "text": texts,
            "lang": np.array(_LANGS)[r.choice(len(_LANGS), n_docs, p=_LANG_P)],
            "source": [f"src{i % 20}" for i in range(n_docs)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(seed: int, n_vec: int, dim: int = 64) -> pa.Table:
    """Unit vectors with a weak per-label direction (10 labels)."""
    r = _rng(seed, "embeddings")
    labels = r.integers(0, 10, n_vec)
    centers = r.normal(0.0, 1.0, (10, dim))
    v = r.normal(0.0, 1.0, (n_vec, dim)) + 0.15 * centers[labels]
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n_vec, dtype=np.int64)),
            "embedding": pa.array(list(v), pa.list_(pa.float32())),
            "label": pa.array(labels.astype(np.int32)),
        }
    )


def etl_sources(seed: int, star: dict[str, pa.Table]) -> dict[str, dict[str, pa.Table]]:
    """Migration inputs derived from the star tables.

    Returns three source directories' worth of tables:

    - ``base``: customer without the held-back ~5% delta, and
      orders; what the initial load migrates;
    - ``full``: base plus the delta, for the incremental re-run;
    - ``updates``: a ~2% batch of changed orders, all in the latest
      order year, for the partition-scoped upsert.

    Every row carries ``seq``, a unique source position the specs use
    as the first-wins order. ``c_code`` is a string unique key; ~3% of
    customer rows repeat another row's code with extra whitespace
    (same key after trimming) or in lower case (a distinct key). ~1% of
    customer rows violate a declared constraint (NULL balance).
    """
    r = _rng(seed, "etl")
    cust = star["customer"]
    n = cust.num_rows
    codes = np.array([f"CUST-{i:07d}" for i in range(n)], dtype=object)
    bal = cust.column("c_acctbal").to_numpy(zero_copy_only=False).astype(object)
    bal[r.choice(n, max(1, n // 100), replace=False)] = None
    variants = r.choice(n, max(2, n * 3 // 100), replace=False)
    v_codes = [
        (f"  {codes[i]} " if j % 2 else codes[i].lower())
        for j, i in enumerate(variants)
    ]
    customer = pa.table(
        {
            "c_code": list(codes) + v_codes,
            "c_name": cust.column("c_name").to_pylist()
            + [cust.column("c_name")[int(i)].as_py() for i in variants],
            "c_nationkey": np.concatenate(
                [cust.column("c_nationkey").to_numpy(), cust.column("c_nationkey").to_numpy()[variants]]
            ),
            "c_acctbal": pa.array(list(bal) + list(bal[variants]), pa.float64()),
        }
    )

    orders = star["orders"]
    days = orders.column("o_orderdate").to_numpy().astype("datetime64[D]")
    orders = pa.table(
        {
            "o_orderkey": orders.column("o_orderkey"),
            "o_custkey": orders.column("o_custkey"),
            "o_orderstatus": orders.column("o_orderstatus"),
            "o_totalprice": orders.column("o_totalprice"),
            "o_orderdate": pa.array(days),
            "o_year": [str(d)[:4] for d in days],
        }
    )

    def with_seq(t: pa.Table) -> pa.Table:
        return t.append_column("seq", pa.array(np.arange(t.num_rows, dtype=np.int64)))

    def split(t: pa.Table) -> tuple[pa.Table, pa.Table]:
        held = r.random(t.num_rows) < 0.05
        return t.filter(pa.array(~held)), t

    customer, orders = with_seq(customer), with_seq(orders)
    cust_base, cust_full = split(customer)

    last_year = max(orders.column("o_year").to_pylist())
    recent = np.flatnonzero(np.array(orders.column("o_year").to_pylist()) == last_year)
    pick = np.sort(r.choice(recent, min(len(recent), max(1, orders.num_rows // 50)), replace=False))
    upd = orders.take(pa.array(pick))
    upd = upd.set_column(
        upd.schema.get_field_index("o_orderstatus"), "o_orderstatus", pa.array(["F"] * upd.num_rows)
    ).set_column(
        upd.schema.get_field_index("o_totalprice"),
        "o_totalprice",
        pa.array(np.round(upd.column("o_totalprice").to_numpy() * 1.1, 2)),
    )
    return {
        "base": {"customer": cust_base, "orders": orders},
        "full": {"customer": cust_full},
        "updates": {"orders": upd},
    }


def write_tables(out_dir: str, tables: dict[str, pa.Table]) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))

