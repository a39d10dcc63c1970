"""Seeded input generators for the three benchmark workloads.

Every input the library sees is made here from the run's ``--seed``;
the same seed gives byte-identical inputs. Spark is never used: the
generators write parquet with pyarrow (or return plain Python data),
so generation cost is the same on every commit of the library.

Why each input looks the way it does:

- ``query_order``: the analyst workload replays the same 31 queries in
  several passes, each pass in a seeded shuffle. A fixed order would let
  one query's cache warm-up (or GC debt) always land on the same
  successor; shuffling spreads it, and the seed makes it repeatable.
- ``write_tpch``: the TPC-H-shaped star schema (region, nation,
  customer, supplier, orders, lineitem) that q01-q17 read, with the
  same column names, types and value domains as the driver's test data.
  Prices and balances are whole cents, so every engine's fixed-decimal
  sums agree bit for bit. One customer in ten places no order (q17's
  anti-join has work) and 0.1% of line items point at a missing order
  (q11's orphan check finds some).
- ``write_bronze``: the PROX bronze tables for the medallion job,
  made by the library's own ``fixture_rows`` at a larger scale. It
  keeps the reference's shape: ~2% exact duplicate rows (dedup has
  work), one booking in forty with an orphan service id (the FK
  checker has work), dimensions about a tenth of the fact table.
- ``make_corpus``: an LLM-curation crawl. Base documents draw 30-90
  words from a 64-word vocabulary (the shape of the test data's
  ``documents`` table: ~300 characters, 20 sources). Then 10% of the
  corpus is exact copies of earlier documents and 10% is near copies
  (one word replaced: 3-gram Jaccard ~0.9, above the 0.5 verify
  threshold and the ~0.71 LSH band threshold). Dedup, LSH signals and
  cluster labels all have real work; the rates are stated constants.
- ``ChurnStream``: the corpus's life after curation. Each batch is an
  upsert (re-crawl of existing docs), an append of new docs or a delete
  of ``batch_rows`` keys, stratified in blocks of ten so that a short
  run always sees the same mix. Re-crawl and delete keys are
  recency-skewed: the age rank of a chosen doc is exponential. The
  constants are UNVERIFIED ASSUMPTIONS, not measured crawl behaviour:
  no public source on crawl re-visit or deletion rates, and no data in
  this repository, backs them.

  - ``KIND_BLOCK``: 60% upserts, 30% appends, 10% deletes.
  - ``RECENCY_MEAN``: mean age rank 5% of the live set.
  - ``batch_rows`` (50, set in ``corpus.py``) and maintenance every 10
    commits (``corpus.MAINTAIN_EVERY``).

  The skew is there because uniform keys would touch every file of a
  doc_id-clustered table on every commit (a whole-table rewrite per
  batch), and write costs then say nothing about file pruning. How much
  a run's results depend on the skew shows in the traced run's
  ``upsert.newest_file_key_share``: the share of re-crawled and deleted
  keys that sat in the newest live data file.
"""

from __future__ import annotations

import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# --- analyst_queries ---------------------------------------------------------

def query_order(seed: int, names: list[str], passes: int) -> list[list[str]]:
    """``passes`` seeded shuffles of ``names``."""
    rng = random.Random(seed)
    out = []
    for _ in range(passes):
        p = list(names)
        rng.shuffle(p)
        out.append(p)
    return out


TPCH_TABLES = ("region", "nation", "customer", "supplier", "orders", "lineitem")
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
TS_US = pa.timestamp("us")


def _cents(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    """Uniform whole-cent amounts in [lo, hi] as doubles."""
    return rng.integers(round(lo * 100), round(hi * 100) + 1, n) / 100.0


def _days(rng: np.random.Generator, start: str, n_days: int, n: int) -> pa.Array:
    base = np.datetime64(start, "us")
    d = rng.integers(0, n_days, n).astype("timedelta64[D]").astype("timedelta64[us]")
    return pa.array(base + d, type=TS_US)


def write_tpch(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write the six TPC-H-shaped tables as ``<out_dir>/<name>.parquet``
    and return their row counts."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp = int(150_000 * sf), int(10_000 * sf)
    n_ord, n_li = int(1_500_000 * sf), int(6_000_000 * sf)
    tables = {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": REGIONS,
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array(rng.integers(0, 5, 25), pa.int32()),
        }),
        "customer": pa.table({
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": _cents(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
        }),
        "supplier": pa.table({
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": _cents(rng, -999.99, 9999.99, n_supp),
        }),
    }
    # one customer in ten never orders
    buyers = np.arange(n_cust, dtype=np.int64)
    buyers = buyers[buyers % 10 != 7]
    tables["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": buyers[rng.integers(0, len(buyers), n_ord)],
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _cents(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _days(rng, "1995-01-01", 2405, n_ord),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)],
    })
    okey = rng.integers(0, n_ord, n_li)
    orphan = rng.random(n_li) < 0.001
    okey[orphan] += n_ord  # line items of orders that do not exist
    tables["lineitem"] = pa.table({
        "l_orderkey": okey.astype(np.int64),
        "l_partkey": rng.integers(0, int(200_000 * sf), n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _cents(rng, 900.0, 105000.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _days(rng, "1995-01-02", 2499, n_li),
    })
    for name, t in tables.items():
        pq.write_table(t, f"{out_dir}/{name}.parquet")
    return {name: t.num_rows for name, t in tables.items()}


# --- medallion_etl -----------------------------------------------------------

def _arrow_type(dtype) -> pa.DataType:
    from pyspark.sql import types as T

    simple = {
        T.LongType: pa.int64(), T.IntegerType: pa.int32(), T.StringType: pa.string(),
        T.DoubleType: pa.float64(), T.BooleanType: pa.bool_(),
        T.TimestampType: TS_US, T.DateType: pa.date32(),
    }
    if isinstance(dtype, T.DecimalType):
        return pa.decimal128(dtype.precision, dtype.scale)
    return simple[type(dtype)]


def write_bronze(out_dir: str, seed: int, n_bookings: int) -> dict[str, int]:
    """Write every PROX bronze table as ``<out_dir>/<name>.parquet``
    (naive microsecond timestamps, as the reference's extract lands
    them) and return their row counts, duplicates included."""
    from prox_spark.fixtures import fixture_rows
    from prox_spark.schemas import SILVER_SCHEMAS

    rows = fixture_rows(
        n_users=max(60, n_bookings * 3 // 4),
        n_providers=max(20, n_bookings // 10),
        n_categories=12,
        n_services=max(50, n_bookings // 5),
        n_bookings=n_bookings,
        seed=seed,
    )
    counts = {}
    for name, schema in SILVER_SCHEMAS.items():
        cols = list(zip(*rows[name]))
        t = pa.table(
            {f.name: pa.array(c, _arrow_type(f.dataType)) for f, c in zip(schema.fields, cols)}
        )
        pq.write_table(t, f"{out_dir}/{name}.parquet")
        counts[name] = t.num_rows
    return counts


# --- corpus_lifecycle --------------------------------------------------------

VOCAB = (
    "batch part spark line column order small sort fast slow value filter "
    "customer stream table index query join merge page crawl token model "
    "train split shard file block cache disk write read commit version "
    "delete insert update scan plan stage task driver worker memory buffer "
    "queue event window count sum average median top rank score label "
    "cluster vector text document source corpus quality clean dedup"
).split()
SOURCES = [f"src{i}" for i in range(20)]
EXACT_DUP_RATE = 0.10
NEAR_DUP_RATE = 0.10
CORPUS_SCHEMA = pa.schema([
    ("doc_id", pa.int64()), ("source", pa.string()),
    ("text", pa.string()), ("n_chars", pa.int64()),
])


def _doc_text(rng: random.Random) -> str:
    return " ".join(rng.choice(VOCAB) for _ in range(rng.randint(30, 90)))


def _near_copy(rng: random.Random, text: str) -> str:
    words = text.split(" ")
    i = rng.randrange(len(words))
    words[i] = rng.choice([w for w in VOCAB if w != words[i]])
    return " ".join(words)


def _row(doc_id: int, source: str, text: str) -> tuple:
    return (doc_id, source, text, len(text))


def corpus_table(rows: list[tuple]) -> pa.Table:
    cols = list(zip(*rows)) if rows else [[], [], [], []]
    return pa.table(
        {f.name: pa.array(c, f.type) for f, c in zip(CORPUS_SCHEMA, cols)},
        schema=CORPUS_SCHEMA,
    )


def make_corpus(seed: int, n_docs: int) -> list[tuple]:
    """``n_docs`` (doc_id, source, text, n_chars) rows, doc_id 0..n-1,
    with EXACT_DUP_RATE exact and NEAR_DUP_RATE near copies of
    earlier documents."""
    rng = random.Random(seed)
    rows: list[tuple] = []
    for i in range(n_docs):
        r = rng.random()
        if i > 10 and r < EXACT_DUP_RATE:
            src = rows[rng.randrange(i)]
            rows.append(_row(i, rng.choice(SOURCES), src[2]))
        elif i > 10 and r < EXACT_DUP_RATE + NEAR_DUP_RATE:
            src = rows[rng.randrange(i)]
            rows.append(_row(i, rng.choice(SOURCES), _near_copy(rng, src[2])))
        else:
            rows.append(_row(i, rng.choice(SOURCES), _doc_text(rng)))
    return rows


# every block of ten commits holds this mix, in a seeded order: a run
# of a dozen commits then always sees the same composition (an
# unverified assumption, see the module docstring)
KIND_BLOCK = ("upsert",) * 6 + ("append",) * 3 + ("delete",)
# mean age rank of a re-crawled/deleted doc, as a share of the live set
# (an unverified assumption, see the module docstring)
RECENCY_MEAN = 0.05


class ChurnStream:
    """Seeded change batches against a live doc_id set.

    ``live`` is the caller's model of the table (doc_id -> row); the
    stream only reads it to choose keys, so a batch is always valid
    against the table it is applied to."""

    def __init__(self, seed: int, live: dict[int, tuple], batch_rows: int) -> None:
        self.rng = random.Random(seed * 7919 + 17)
        self.live = live
        self.batch_rows = batch_rows
        self.next_id = max(live) + 1 if live else 0
        self.block: list[str] = []

    def _recent_keys(self) -> list[int]:
        """``batch_rows`` distinct live keys; a drawn age rank already
        taken moves to the next older doc, so the draw always ends."""
        ids = sorted(self.live)
        n = len(ids)
        picked: set[int] = set()
        for _ in range(min(self.batch_rows, n)):
            age = min(n - 1, int(self.rng.expovariate(1.0 / (RECENCY_MEAN * n))))
            while age in picked:
                age = (age + 1) % n
            picked.add(age)
        return sorted(ids[n - 1 - a] for a in picked)

    def next(self, kind: str | None = None) -> tuple[str, list[tuple]]:
        """(kind, rows) of the next batch (or of a batch of the given
        ``kind``): upsert|append|delete; delete rows are 1-tuples of
        doc_id."""
        if kind is None:
            if not self.block:
                self.block = list(KIND_BLOCK)
                self.rng.shuffle(self.block)
            kind = self.block.pop()
        if kind == "upsert":
            return kind, [
                _row(k, self.live[k][1], _near_copy(self.rng, self.live[k][2]))
                for k in self._recent_keys()
            ]
        if kind == "append":
            rows = [
                _row(self.next_id + j, self.rng.choice(SOURCES), _doc_text(self.rng))
                for j in range(self.batch_rows)
            ]
            self.next_id += self.batch_rows
            return kind, rows
        return kind, [(k,) for k in self._recent_keys()]
