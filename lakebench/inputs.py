"""Seeded input generation: every file the program reads comes from here.

The same seed always yields the same bytes. Table shapes (row counts,
file counts, partition layout) are fixed; the seed only draws the
values, so the cost of a workload does not depend on the seed.

Two input sets:

- ``readings``: one logical table stored twice, as a hive-partitioned
  Parquet table and as a partitioned Delta table (a bulk commit, a
  classic checkpoint at version 10 and a JSON tail after it). The Delta
  log is authored here from the public protocol, so the program only
  reads it.
- the ``star`` tables the registry queries read (TPC-H-like customer,
  orders, lineitem plus events and documents), one Parquet
  file each, shaped like the repository's testdata schema at the row
  counts of its sf0.1 scale.
"""

from __future__ import annotations

import json
import os
import uuid
from typing import Optional

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

# -- readings: the catalog / Delta table ------------------------------------

N_REGIONS = 15
FILES_PER_REGION = 3
ROWS_PER_FILE = 1000
ROWS_PER_REGION = FILES_PER_REGION * ROWS_PER_FILE
BASE_ROWS = N_REGIONS * ROWS_PER_REGION
# Versions 1..15 after the bulk commit, one per region (in a seeded
# order), so every region holds the same files. delta_ingest's passes
# continue from version 15 (see workloads.INGEST_PASS).
TAIL_COMMITS = N_REGIONS
CHECKPOINT_VERSION = 10    # write_delta's own cadence
TAIL_ROWS = 100
TAGS = ["alpha", "beta", "gamma", "delta", "eps", "zeta"]

READINGS_SCHEMA = pa.schema(
    [
        ("id", pa.int64()),
        ("region", pa.int32()),
        ("day", pa.int32()),
        ("amount", pa.float64()),
        ("qty", pa.int32()),
        ("tag", pa.string()),
    ]
)
READINGS_COLUMNS = READINGS_SCHEMA.names

_DELTA_TYPES = {
    pa.int64(): "long",
    pa.int32(): "integer",
    pa.float64(): "double",
    pa.string(): "string",
}


def readings_rows(rng: np.random.Generator, ids: np.ndarray, regions) -> pa.Table:
    """Rows with the given ids and regions; the other columns are drawn."""
    n = len(ids)
    return pa.table(
        {
            "id": pa.array(ids, pa.int64()),
            "region": pa.array(np.broadcast_to(regions, n), pa.int32()),
            "day": pa.array(rng.integers(0, 30, n), pa.int32()),
            # whole cents, so a double round-trips exactly
            "amount": pa.array(rng.integers(0, 100_000, n) / 100.0),
            "qty": pa.array(rng.integers(1, 50, n), pa.int32()),
            "tag": pa.array(np.array(TAGS)[rng.integers(0, len(TAGS), n)]),
        },
        schema=READINGS_SCHEMA,
    )


def base_readings(rng: np.random.Generator) -> pa.Table:
    """BASE_ROWS rows; region r holds the contiguous id block
    [r * ROWS_PER_REGION, (r + 1) * ROWS_PER_REGION), so id ranges map to
    few files and row groups."""
    ids = np.arange(BASE_ROWS, dtype=np.int64)
    return readings_rows(rng, ids, (ids // ROWS_PER_REGION).astype(np.int32))


def write_parquet_table(root: str, rows: pa.Table) -> None:
    """Hive layout ``region=<r>/part-00000.parquet``, one file per region,
    one row group per ROWS_PER_FILE rows."""
    regions = rows.column("region").to_numpy()
    data = rows.drop_columns(["region"])
    for r in np.unique(regions):
        d = os.path.join(root, f"region={r}")
        os.makedirs(d, exist_ok=True)
        pq.write_table(
            data.filter(pa.array(regions == r)),
            os.path.join(d, "part-00000.parquet"),
            row_group_size=ROWS_PER_FILE,
        )


def _stats(table: pa.Table) -> str:
    mins, maxs, nulls = {}, {}, {}
    for name in table.column_names:
        col = table.column(name)
        nulls[name] = col.null_count
        lo_hi = pc.min_max(col)
        mins[name] = lo_hi["min"].as_py()
        maxs[name] = lo_hi["max"].as_py()
    return json.dumps(
        {
            "numRecords": table.num_rows,
            "minValues": mins,
            "maxValues": maxs,
            "nullCount": nulls,
        }
    )


class DeltaLogAuthor:
    """Writes Delta commits (protocol v1/v2, partitioned, with add.stats)
    straight from Arrow tables. File names and ids are deterministic."""

    def __init__(self, uri: str, schema: pa.Schema, partition_col: str, seed: int):
        self.uri = uri
        self.schema = schema
        self.partition_col = partition_col
        self.seed = seed
        self.version = -1
        os.makedirs(os.path.join(uri, "_delta_log"), exist_ok=True)

    def _schema_string(self) -> str:
        fields = [
            {"name": f.name, "type": _DELTA_TYPES[f.type], "nullable": True,
             "metadata": {}}
            for f in self.schema
        ]
        return json.dumps({"type": "struct", "fields": fields})

    def commit(self, rows: pa.Table, rows_per_file: int) -> int:
        """One commit adding ``rows``: one or more files per partition,
        each at most ``rows_per_file`` rows."""
        self.version += 1
        actions: list[dict] = []
        if self.version == 0:
            actions.append({"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}})
            actions.append(
                {
                    "metaData": {
                        "id": str(uuid.UUID(int=self.seed + 1)),
                        "format": {"provider": "parquet", "options": {}},
                        "schemaString": self._schema_string(),
                        "partitionColumns": [self.partition_col],
                        "configuration": {},
                        "createdTime": 1_700_000_000_000,
                    }
                }
            )
        parts = rows.column(self.partition_col).to_numpy()
        data = rows.drop_columns([self.partition_col])
        n_file = 0
        for value in np.unique(parts):
            group = data.filter(pa.array(parts == value))
            rel_dir = f"{self.partition_col}={value}"
            os.makedirs(os.path.join(self.uri, rel_dir), exist_ok=True)
            for start in range(0, group.num_rows, rows_per_file):
                chunk = group.slice(start, rows_per_file)
                rel = f"{rel_dir}/part-{self.version:05d}-{n_file:05d}.parquet"
                n_file += 1
                path = os.path.join(self.uri, rel)
                pq.write_table(chunk, path)
                actions.append(
                    {
                        "add": {
                            "path": rel,
                            "partitionValues": {self.partition_col: str(value)},
                            "size": os.path.getsize(path),
                            "modificationTime": 1_700_000_000_000 + self.version,
                            "dataChange": True,
                            "stats": _stats(chunk),
                        }
                    }
                )
        log = os.path.join(self.uri, "_delta_log", f"{self.version:020d}.json")
        with open(log, "w", encoding="utf-8") as fh:
            for action in actions:
                fh.write(json.dumps(action) + "\n")
        return self.version


class Readings:
    """The generated readings rows, the rows each version holds, and where
    they were last written."""

    def __init__(self, seed: int):
        self.seed = seed
        self.root = self.parquet_uri = self.delta_uri = ""
        rng = np.random.default_rng([seed, 1])
        self.base = base_readings(rng)
        self.tail: list[pa.Table] = []  # rows added by versions 1..TAIL_COMMITS
        next_id = BASE_ROWS
        for region in rng.permutation(N_REGIONS):
            ids = np.arange(next_id, next_id + TAIL_ROWS, dtype=np.int64)
            next_id += TAIL_ROWS
            self.tail.append(readings_rows(rng, ids, np.int32(region)))
        self.next_id = next_id
        self.latest_version = TAIL_COMMITS

    def rows_at(self, version: Optional[int] = None) -> pa.Table:
        v = self.latest_version if version is None else version
        return pa.concat_tables([self.base, *self.tail[:v]])

    def _place(self, root: str) -> None:
        self.root = root
        self.parquet_uri = os.path.join(root, "readings_pq")
        self.delta_uri = os.path.join(root, "readings_delta")

    def write(self, root: str) -> None:
        """Both tables under ``root``."""
        self._place(root)
        write_parquet_table(self.parquet_uri, self.base)
        self._write_delta()

    def write_delta(self, root: str) -> None:
        """Only the Delta table, under ``root``."""
        self._place(root)
        self._write_delta()

    def _write_delta(self) -> None:
        from datarepo_spark.tables.delta_writer import write_checkpoint

        author = DeltaLogAuthor(
            self.delta_uri, READINGS_SCHEMA, "region", seed=self.seed
        )
        author.commit(self.base, ROWS_PER_FILE)
        for version, rows in enumerate(self.tail, start=1):
            author.commit(rows, ROWS_PER_FILE)
            if version == CHECKPOINT_VERSION:
                write_checkpoint(self.delta_uri, version)


# -- star: the registry queries' tables ---------------------------------------

STAR_TABLES = ["customer", "orders", "lineitem", "events", "documents"]
# Row counts of the repository's sf0.1 testdata (about 600k lineitem rows).
N_CUSTOMERS = 15_000
N_ORDERS = 150_000
N_PARTS = 20_000
N_SUPPLIERS = 1_000
N_EVENTS = 100_000
N_USERS = 1_500
N_DOCS = 5_000
_WORDS = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()
_LANGS = ["en", "zh", "es", "de", "fr"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def _cents(rng: np.random.Generator, lo: int, hi: int, n: int) -> np.ndarray:
    return rng.integers(lo, hi, n) / 100.0


def _days(rng: np.random.Generator, start: str, span_days: int, n: int) -> pa.Array:
    base = np.datetime64(start, "us")
    days = rng.integers(0, span_days, n).astype("timedelta64[D]")
    return pa.array(base + days.astype("timedelta64[us]"), pa.timestamp("us"))


def _document(rng: np.random.Generator, i: int) -> str:
    words = list(np.array(_WORDS)[rng.integers(0, len(_WORDS), rng.integers(20, 80))])
    kind = i % 10
    if kind == 3:
        words.insert(rng.integers(0, len(words)), f"user{i}@example.com")
    elif kind == 5:
        words.insert(rng.integers(0, len(words)), f"555-{rng.integers(100, 999)}-{rng.integers(1000, 9999)}")
    elif kind == 7:
        words.insert(rng.integers(0, len(words)), f"10.0.{rng.integers(0, 255)}.{rng.integers(0, 255)}")
    return " ".join(str(w) for w in words)


def star_tables(seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng([seed, 2])
    out: dict[str, pa.Table] = {}
    out["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(N_CUSTOMERS), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(N_CUSTOMERS)],
            "c_nationkey": pa.array(rng.integers(0, 25, N_CUSTOMERS), pa.int32()),
            "c_acctbal": _cents(rng, -99_999, 999_999, N_CUSTOMERS),
            "c_mktsegment": np.array(_SEGMENTS)[rng.integers(0, 5, N_CUSTOMERS)],
        }
    )
    out["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(N_ORDERS), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, N_CUSTOMERS, N_ORDERS), pa.int64()),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, N_ORDERS)],
            "o_totalprice": _cents(rng, 100_000, 50_000_000, N_ORDERS),
            "o_orderdate": _days(rng, "1995-01-01", 2400, N_ORDERS),
            "o_orderpriority": np.array(_PRIORITIES)[rng.integers(0, 5, N_ORDERS)],
        }
    )
    lines = rng.integers(1, 8, N_ORDERS)
    n_li = int(lines.sum())
    out["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(np.repeat(np.arange(N_ORDERS), lines), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, N_PARTS, n_li), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, N_SUPPLIERS, n_li), pa.int64()),
            "l_linenumber": pa.array(np.concatenate([np.arange(1, k + 1) for k in lines]), pa.int32()),
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": _cents(rng, 90_000, 10_500_000, n_li),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
            "l_shipdate": _days(rng, "1995-01-01", 2500, n_li),
        }
    )
    gaps = rng.integers(1, 2 * 30 * 86_400_000_000 // N_EVENTS, N_EVENTS)
    ts = np.datetime64("2024-01-01T00:00:00", "us") + np.cumsum(gaps).astype("timedelta64[us]")
    out["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(N_EVENTS), pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, N_USERS, N_EVENTS), pa.int64()),
            "event_type": np.array(_EVENT_TYPES)[rng.integers(0, 5, N_EVENTS)],
            "value": _cents(rng, 1, 50_000, N_EVENTS),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, N_EVENTS)],
        }
    )
    texts = [_document(rng, i) for i in range(N_DOCS)]
    for i in range(0, N_DOCS, 25):  # near-duplicates: copy + one appended word
        src = int(rng.integers(0, N_DOCS))
        texts[i] = texts[src] + " dup"
    out["documents"] = pa.table(
        {
            "doc_id": pa.array(np.arange(N_DOCS), pa.int64()),
            "text": texts,
            "lang": np.array(_LANGS)[rng.integers(0, 5, N_DOCS)],
            "source": [f"src{i % 20}" for i in range(N_DOCS)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    return out


def write_star(root: str, tables: dict[str, pa.Table]) -> None:
    os.makedirs(root, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(root, f"{name}.parquet"))
