"""Seeded inputs for the benchmark.

``write_tables`` writes the ``orders`` and ``documents`` tables, one
single-row-group parquet file each, fitted to the sf0.1 test data that
``__spark_entry__.queries()`` reads: the same columns and types, value
ranges, word-count and vocabulary distributions and near-duplicate
share (README.md lists the figures compared). The table contents come
from a fixed data seed, so every run queries the same tables; the
workload seed drives only the CDC changesets and deletes.

``write_cdc_inputs`` writes the ``cdc_medallion`` inputs: the metadata
YAMLs, the silver ``orders`` seed and one parquet changeset per batch.
"""

from __future__ import annotations

import datetime as dt
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42
SF = 0.1
N_ORDERS = int(1_500_000 * SF)
N_CUSTOMER = int(150_000 * SF)
N_DOCUMENTS = 5_000

_EPOCH = dt.datetime(1970, 1, 1)
_STATUSES = ["F", "O", "P"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_WORDS = (
    "a agg batch big column customer data fast filter group hash join "
    "key line merge order part query row scan slow small sort spark "
    "stream table the value vector window"
).split()
_LANGS = ["en", "zh", "es", "fr", "de"]
_LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]


def _days(start: dt.date, offsets: np.ndarray) -> pa.Array:
    """Midnight timestamps ``start + offsets`` days, microsecond unit."""
    base = int((dt.datetime.combine(start, dt.time()) - _EPOCH).total_seconds())
    micros = (base + offsets.astype(np.int64) * 86_400) * 1_000_000
    return pa.array(micros, type=pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(table: pa.Table, path: str) -> int:
    pq.write_table(table, path, row_group_size=max(1, table.num_rows))
    return os.path.getsize(path)


def _orders(rng: np.random.Generator) -> pa.Table:
    return pa.table({
        "o_orderkey": np.arange(N_ORDERS, dtype=np.int64),
        "o_custkey": rng.integers(0, N_CUSTOMER, N_ORDERS).astype(np.int64),
        "o_orderstatus": np.array(_STATUSES)[rng.integers(0, 3, N_ORDERS)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, N_ORDERS),
        "o_orderdate": _days(dt.date(1995, 1, 1), rng.integers(0, 2405, N_ORDERS)),
        "o_orderpriority": np.array(_PRIORITIES)[rng.integers(0, 5, N_ORDERS)],
    })


def _documents(rng: np.random.Generator) -> pa.Table:
    # 10-99 uniform words; 5% of documents then repeat another
    # document's text plus " dup", the near-duplicates the curation
    # queries cluster.
    words = np.array(_WORDS)
    texts = [
        " ".join(words[rng.integers(0, len(words), n)])
        for n in rng.integers(10, 100, N_DOCUMENTS)
    ]
    dups = rng.choice(N_DOCUMENTS, N_DOCUMENTS // 20, replace=False)
    for i in dups:
        j = int(rng.integers(0, N_DOCUMENTS))
        texts[i] = texts[j if j != i else (i + 1) % N_DOCUMENTS] + " dup"
    return pa.table({
        "doc_id": np.arange(N_DOCUMENTS, dtype=np.int64),
        "text": texts,
        "lang": np.array(_LANGS)[rng.choice(5, N_DOCUMENTS, p=_LANG_P)],
        "source": [f"src{i % 20}" for i in range(N_DOCUMENTS)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


_GENERATORS = {"orders": _orders, "documents": _documents}


def write_tables(out_dir: str, names: tuple[str, ...]) -> None:
    """Write the named tables under ``out_dir``. Each table has its own
    random stream, so a table's contents do not depend on which others
    are written."""
    os.makedirs(out_dir, exist_ok=True)
    for name in names:
        rng = np.random.default_rng([DATA_SEED, list(_GENERATORS).index(name)])
        _write(_GENERATORS[name](rng), os.path.join(out_dir, f"{name}.parquet"))


# -- cdc_medallion ---------------------------------------------------

SILVER = "silver.sales.orders"
GOLD = "gold.sales.order_summary"
SEED_UPDATED_AT = dt.datetime(2026, 1, 1)
UPDATE_SHARE = 0.05
INSERT_SHARE = 0.01
# Share of changeset rows that break one declared DQ rule each, so the
# check aggregates count both outcomes.
BAD_SHARE = 0.002
DELETE_MODULUS = 997

JOB_METADATA = """\
jobs:
  - name: 'silver_full'
    type: 'full'
    tables:
      - table_name: 'orders'
        input_format: 'parquet'
        catalog: 'silver'
        schema: 'sales'
  - name: 'silver_cdc'
    type: 'cdc'
    tables:
      - table_name: 'orders'
        input_format: 'parquet'
        catalog: 'silver'
        schema: 'sales'
"""

ORDERS_YML = """\
table_name: 'orders'
fields:
  - name: 'o_orderkey'
    type: 'long'
    key: true
    tests:
      - test_type: 'duplicated'
  - name: 'o_custkey'
    type: 'long'
    tests:
      - test_type: 'missing'
  - name: 'o_orderstatus'
    type: 'string'
    tests:
      - test_type: 'not_in_list'
        kwargs:
          expected_values: ['F', 'O', 'P']
  - name: 'o_totalprice'
    type: 'double'
    tests:
      - test_type: 'outside_of_rules'
        kwargs:
          expression: 'o_totalprice >= 0'
  - name: 'o_orderdate'
    type: 'timestamp'
  - name: 'o_orderpriority'
    type: 'string'
  - name: 'updated_at'
    type: 'timestamp'
    date_predicate: true
"""

GOLD_SQL = f"""\
SELECT o_orderstatus, o_orderpriority,
       COUNT(*) AS n_orders,
       SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) AS total_cents
FROM {SILVER}
GROUP BY o_orderstatus, o_orderpriority"""


@dataclass
class Batch:
    number: int
    path: str            # directory holding the changeset parquet
    rows: int
    bytes: int
    delete_residue: int  # DELETE ... WHERE o_orderkey % 997 = residue
    run_date: str        # DQ run date of this batch


@dataclass
class CdcInputs:
    meta_root: str
    seed_path: str
    batches: list[Batch]


def write_cdc_inputs(orders_path: str, out_dir: str, seed: int,
                     n_batches: int) -> CdcInputs:
    """Write the metadata YAMLs, the silver seed (``orders`` plus an
    ``updated_at`` column) and ``n_batches`` changesets. Batch ``b``
    updates 5% of the seed's key range with ``updated_at`` = seed
    time + ``b`` days and inserts 1% new keys."""
    meta = os.path.join(out_dir, "meta")
    os.makedirs(os.path.join(meta, "silver", "orders"), exist_ok=True)
    with open(os.path.join(meta, "silver", "job_metadata.yml"), "w") as fh:
        fh.write(JOB_METADATA)
    with open(os.path.join(meta, "silver", "orders", "orders.yml"), "w") as fh:
        fh.write(ORDERS_YML)

    orders = pq.read_table(orders_path)
    n = orders.num_rows
    seed_dir = os.path.join(out_dir, "seed")
    os.makedirs(seed_dir, exist_ok=True)
    seed_ts = pa.array(
        np.full(n, int((SEED_UPDATED_AT - _EPOCH).total_seconds() * 1e6)),
        pa.timestamp("us"),
    )
    _write(orders.append_column("updated_at", seed_ts),
           os.path.join(seed_dir, "part-0.parquet"))

    n_upd, n_ins = int(n * UPDATE_SHARE), int(n * INSERT_SHARE)
    batches = []
    for b in range(1, n_batches + 1):
        rng = np.random.default_rng([seed, b])
        keys = np.concatenate([
            rng.choice(n + n_ins * (b - 1), n_upd, replace=False),
            n + n_ins * (b - 1) + np.arange(n_ins),
        ]).astype(np.int64)
        m = len(keys)
        status = np.array(_STATUSES)[rng.integers(0, 3, m)].astype(object)
        price = _money(rng, 1000.0, 500000.0, m)
        custkey = rng.integers(0, N_CUSTOMER, m).astype(np.int64)
        bad = rng.choice(m, 3 * int(m * BAD_SHARE), replace=False).reshape(3, -1)
        status[bad[0]] = "X"
        price[bad[1]] = -price[bad[1]]
        no_customer = np.zeros(m, dtype=bool)
        no_customer[bad[2]] = True
        when = SEED_UPDATED_AT + dt.timedelta(days=b)
        changes = pa.table({
            "o_orderkey": keys,
            "o_custkey": pa.array(custkey, pa.int64(), mask=no_customer),
            "o_orderstatus": status.astype(str),
            "o_totalprice": price,
            "o_orderdate": _days(dt.date(1995, 1, 1), rng.integers(0, 2405, m)),
            "o_orderpriority": np.array(_PRIORITIES)[rng.integers(0, 5, m)],
            "updated_at": pa.array(
                np.full(m, int((when - _EPOCH).total_seconds() * 1e6)),
                pa.timestamp("us")),
        })
        bdir = os.path.join(out_dir, "changes", f"batch_{b:04d}")
        os.makedirs(bdir, exist_ok=True)
        size = _write(changes, os.path.join(bdir, "part-0.parquet"))
        batches.append(Batch(
            number=b, path=bdir, rows=m, bytes=size,
            delete_residue=int(rng.integers(0, DELETE_MODULUS)),
            run_date=when.date().isoformat(),
        ))
    return CdcInputs(meta_root=meta, seed_path=seed_dir, batches=batches)
