"""The three workloads and the closed-loop harness they share.

Each workload is one client in a closed loop: the next request is sent
when the previous one has returned, like a notebook user waiting on each
call. Requests come in passes; a pass issues every request of the
workload's fixed mix once (in a seeded order). An untimed warm-up comes
first: without it, the first timed pass ran 12-35 % slower than the
next ones on a 4-vCPU host. The loop stops at the first request that would start after
``seconds``; metrics are medians per request kind, so a pass cut short
weighs nothing.

Every timed read or query ends in :func:`sink`, a ``noop`` write that
materializes every output column and keeps none. Commits are timed as
the program's own write call. Outputs are checked outside the timed
window (see ``checks.py``): the warm-up pass of the read workloads
fetches and checks each output after sinking it.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import statistics
import sys
import time
import traceback
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass
from typing import Any, Callable, Optional

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from . import checks, inputs
from .tracing import Tracer, fold_event_log

SETUP_REPS = 3

READ_KINDS = ["pq_point", "pq_range", "pq_dnf", "dl_point", "dl_range", "dl_dnf", "dl_version"]
INGEST_KINDS = ["append", "merge", "read_after_write"]
# One delta_ingest pass: small appends with a periodic merge between them.
# The warm-up runs one pass and one more merge, the request slowest to
# warm up, so from version 15 it commits 16-19 and pass p commits
# 20+3p..22+3p: write_delta's checkpoint (every 10th version, appends
# only) lands on the first append of pass 0, a traced pass.
INGEST_PASS = ["append", "merge", "append"]
# Registry queries of operator_pipeline, over tables of sf0.1 size: a
# shuffle join with aggregation, the regex projections that .count()
# prunes, and a window. The Delta rows stay out: their fixtures are
# memoized per process. graph_pagerank (about 5 s over 33 jobs),
# dedup_minhash_lsh, pipeline_curate_v3, q18_large_volume and
# similarity_ann_ivf (1.6 and 2.0 s at this size) stay out, and so does
# events_sessionize (its 96k-row result takes about 4 s to check): a run
# has to fit two warm-up passes, one of them checked, and two timed
# passes.
QUERY_MIX = [
    "q3_shipping_priority",
    "text_quality_score",
    "join_asof_backward",
    "text_pii_redact",
]
# Rows whose ``.count()`` plan Catalyst prunes to Aggregate <- Relation.
COUNT_PRUNED = ["text_quality_score", "text_pii_redact", "join_asof_backward"]
APPEND_ROWS = 500
MERGE_UPDATES = 150
MERGE_INSERTS = 50


def sink(df) -> None:
    """The one timed action: compute every output column, keep none."""
    df.write.format("noop").mode("overwrite").save()


@dataclass
class Sample:
    kind: str
    ms: float
    pass_no: int = 0


@dataclass
class OpRecord:
    kind: str
    build_ms: float = 0.0
    action_ms: float = 0.0
    plan_ms: Optional[float] = None
    files_frac: Optional[float] = None  # files scanned / files in the table


@dataclass
class Commit:
    kind: str
    source_bytes: int
    added_bytes: int
    files_removed: int


class Deadline(Exception):
    """Raised instead of starting a request once the loop's time is up."""


class Harness:
    """Timing, failure accounting and (in a traced run) per-request job
    groups and spans for one workload run."""

    def __init__(self, spark, work: str, seed: int, seconds: float, trace: bool):
        self.spark = spark
        self.sc = spark.sparkContext
        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.rng = np.random.default_rng([seed, 3])
        self.samples: list[Sample] = []
        self.untraced: list[Sample] = []
        self.attempted = 0
        self.failed = 0
        self.check_failures: list[str] = []
        self.setup_s: list[float] = []
        self.detail: dict[str, Any] = {}
        self.ops: dict[str, OpRecord] = {}
        self.commits: list[Commit] = []
        self.trace = trace
        self.tracer: Optional[Tracer] = None
        self.tracing = False  # a traced pass is running
        self.recording = False  # set by loop(): warm-up and check ops are not samples
        self.pass_no = 0
        self.deadline: Optional[float] = None
        self._n = 0

    # -- requests -------------------------------------------------------------

    def _begin(self, kind: str, phase: str) -> str:
        if self.deadline is not None and time.perf_counter() >= self.deadline:
            raise Deadline
        op = f"{kind}#{self._n}"
        if self.tracing:
            self.tracer.op = op
            self.sc.setJobGroup(f"{op}|{phase}", kind)
        return op

    def _end(self) -> None:
        if self.tracing:
            self.tracer.op = None
            self.sc.setLocalProperty("spark.jobGroup.id", None)

    def _record(self, kind: str, ms: float, op: OpRecord) -> None:
        self._n += 1
        if not self.recording:
            return
        sample = Sample(kind, ms, self.pass_no)
        if self.trace and not self.tracing:
            self.untraced.append(sample)
            return
        self.samples.append(sample)
        if self.tracing:
            self.ops[f"{kind}#{self._n - 1}"] = op

    def _fail(self, what: str) -> None:
        self.failed += 1
        self._end()
        print(f"lakebench: {what} failed", file=sys.stderr)
        traceback.print_exc(file=sys.stderr)

    def read(
        self, kind: str, build: Callable[[], Any],
        table_files: Optional[Callable[[], int]] = None,
        check: Optional[Callable[[Any], Any]] = None,
    ) -> Any:
        """One timed read or query: build the DataFrame, then sink it.
        Returns the DataFrame, or None when the request failed.
        ``table_files`` counts the files of the table read, for the traced
        run's scanned-files fraction. ``check``, given in the warm-up
        pass, is called with the DataFrame after the sink."""
        op = self._begin(kind, "build")
        self.attempted += 1
        record = OpRecord(kind)
        try:
            t0 = time.perf_counter()
            df = build()
            t1 = time.perf_counter()
            if self.tracing:
                df._jdf.queryExecution().executedPlan()
                record.plan_ms = (time.perf_counter() - t1) * 1e3
                self.sc.setJobGroup(f"{op}|action", kind)
            t2 = time.perf_counter()
            sink(df)
            t3 = time.perf_counter()
            if check is not None:
                check(df)
            self._end()
        except Exception:
            self._fail(kind)
            return None
        record.build_ms = (t1 - t0) * 1e3
        record.action_ms = (t3 - t2) * 1e3
        if self.tracing and table_files is not None:
            record.files_frac = len(df.inputFiles()) / table_files()
        self._record(kind, record.build_ms + record.action_ms, record)
        return df

    def commit(self, kind: str, write: Callable[[], Any]) -> Any:
        """One timed commit through the program's Delta writer."""
        self._begin(kind, "action")
        self.attempted += 1
        try:
            t0 = time.perf_counter()
            result = write()
            ms = (time.perf_counter() - t0) * 1e3
            self._end()
        except Exception:
            self._fail(kind)
            return None
        self._record(kind, ms, OpRecord(kind, action_ms=ms))
        return result

    def check(self, what: str, compare: Callable[[], bool]) -> None:
        """Count a wrong output, or a check that raised, as a failure."""
        try:
            ok = compare()
        except Exception:
            traceback.print_exc(file=sys.stderr)
            ok = False
        if not ok:
            self.check_failures.append(what)
            print(f"lakebench: wrong output: {what}", file=sys.stderr)

    def timed_setup(self, prepare: Callable[[int], Any]) -> Any:
        """Run the workload's set-up SETUP_REPS times into fresh directories
        and keep the last; set-up time is their median. The inputs are
        generated once, before: a repetition writes them and opens them
        through the program."""
        result = None
        for rep in range(SETUP_REPS):
            t0 = time.perf_counter()
            result = prepare(rep)
            self.setup_s.append(time.perf_counter() - t0)
        return result

    def warm_up(self, *passes: Callable[[], Any]) -> None:
        """Untimed passes, not sampled."""
        t0 = time.perf_counter()
        for run_pass in passes:
            run_pass()
        self.detail["warmup_s"] = round(time.perf_counter() - t0, 3)

    def loop(self, run_pass: Callable[[int], Any]) -> None:
        """Closed loop: passes until the first request due after ``seconds``.
        A traced run alternates traced and untraced passes, so tracing
        overhead is traced minus untraced latency under the same
        conditions; it completes three passes, two of them traced, before
        the deadline counts."""
        self.recording = True
        start = time.perf_counter()
        pass_s = []
        try:
            while True:
                self.pass_no = len(pass_s)
                if self.pass_no >= (3 if self.trace else 1):
                    self.deadline = start + self.seconds
                if self.trace and self.pass_no % 2 == 0:
                    self.tracer = self.tracer or Tracer()
                    self.tracer.install_layer_hooks()
                    self.tracing = True
                t0 = time.perf_counter()
                try:
                    run_pass(self.pass_no)
                finally:
                    if self.tracing:
                        self.tracer.restore()
                        self.tracing = False
                pass_s.append(round(time.perf_counter() - t0, 3))
        except Deadline:
            pass
        self.recording = False
        self.deadline = None
        self.detail["pass_s"] = pass_s  # whole passes
        self.detail["loop_s"] = round(time.perf_counter() - start, 3)

    # -- metrics ---------------------------------------------------------------

    def kind_medians(self) -> dict[str, float]:
        by_kind: dict[str, list[float]] = {}
        for s in self.samples:
            by_kind.setdefault(s.kind, []).append(s.ms)
        return {k: statistics.median(v) for k, v in by_kind.items()}

    def end_to_end(self, peak_rss_bytes: int) -> dict[str, float]:
        """No tail latency: a run holds 2 to 4 samples per request kind and
        under 30 in all, so no percentile above the median has ten samples
        beyond it. ``kind_p50_sum_s`` is the time one request of each kind
        takes at median latency: for operator_pipeline, one pass of its
        query mix."""
        medians = self.kind_medians()
        self.detail["n_ops"] = len(self.samples)
        self.detail["kind_p50_ms"] = {k: round(v, 3) for k, v in medians.items()}
        self.detail["samples_ms"] = [(s.kind, s.pass_no, round(s.ms, 1)) for s in self.samples]
        return {
            "setup_s": statistics.median(self.setup_s),
            "kind_p50_geomean_ms": math.exp(
                statistics.fmean(math.log(v) for v in medians.values())
            ),
            "kind_p50_sum_s": sum(medians.values()) / 1e3,
            "peak_rss_mb": peak_rss_bytes / 2**20,
        }


# -- catalog_reads ---------------------------------------------------------------


@dataclass
class Request:
    kind: str
    table: str
    dnf: list[list[tuple]]
    columns: list[str]
    version: Optional[int] = None
    expected: tuple[int, int] = (0, 0)

    def filters(self):
        from datarepo_spark import Filter

        conjs = [[Filter(*t) for t in conj] for conj in self.dnf]
        return conjs[0] if len(conjs) == 1 else conjs

    def call(self, catalog, spark):
        kwargs = {"filters": self.filters(), "columns": self.columns, "spark": spark}
        if self.version is not None:
            kwargs["version"] = self.version
        return catalog.db("lake").table(self.table, **kwargs)


def readings_catalog(readings: inputs.Readings):
    from pyspark.sql import types as T

    from datarepo_spark import Catalog, DeltalakeTable, DictDatabase, ParquetTable
    from datarepo_spark.tables.metadata import Partition

    type_map = {pa.int64(): T.LongType(), pa.int32(): T.IntegerType(),
                pa.float64(): T.DoubleType(), pa.string(): T.StringType()}
    schema = T.StructType(
        [T.StructField(f.name, type_map[f.type]) for f in inputs.READINGS_SCHEMA]
    )
    return Catalog(
        {
            "lake": DictDatabase(
                {
                    "readings_pq": ParquetTable(
                        "readings_pq",
                        readings.parquet_uri,
                        partitioning=[Partition("region", T.IntegerType())],
                        schema=schema,
                    ),
                    "readings_delta": DeltalakeTable(
                        "readings_delta", readings.delta_uri, schema=schema
                    ),
                }
            )
        }
    )


def _read_requests(rng: np.random.Generator, readings: inputs.Readings) -> list[Request]:
    """One seeded request per read kind, with its expected fingerprint.
    Every region holds the same files, so the draw does not change what a
    request costs."""
    r1, r2 = (int(x) for x in rng.choice(inputs.N_REGIONS, 2, replace=False))
    lo = int(rng.integers(0, inputs.BASE_ROWS - 1500))
    day = int(rng.integers(3, 8))
    amount = float(rng.integers(800, 950))
    point = [[("region", "=", r1)]]
    rng_f = [[("id", ">=", lo), ("id", "<", lo + 1500)]]
    dnf = [[("region", "=", r1), ("day", "<", day)],
           [("region", "=", r2), ("amount", ">", amount)]]
    requests = []
    for prefix, table in (("pq", "readings_pq"), ("dl", "readings_delta")):
        requests += [
            Request(f"{prefix}_point", table, point, ["id", "day", "amount", "region"]),
            Request(f"{prefix}_range", table, rng_f, ["id", "qty", "tag"]),
            Request(f"{prefix}_dnf", table, dnf, list(inputs.READINGS_COLUMNS)),
        ]
    version = int(rng.integers(2, inputs.CHECKPOINT_VERSION))
    requests.append(
        Request("dl_version", "readings_delta", point, ["id", "amount", "tag"], version=version)
    )
    for req in requests:
        rows = readings.base if req.table == "readings_pq" else readings.rows_at(req.version)
        req.expected = checks.expected_fingerprint(checks.select_rows(rows, req.dnf), req.columns)
    return requests


def _rep_root(h: Harness, rep: int) -> str:
    """A fresh directory per set-up repetition: no repetition finds the
    files, or the program's caches of them, of another."""
    root = os.path.join(h.work, f"setup{rep}")
    shutil.rmtree(root, ignore_errors=True)
    return root


def _prepare_readings(h: Harness, readings: inputs.Readings, rep: int):
    """Write the generated readings tables and open them through the
    program (file listing, Delta log replay); no Spark job runs."""
    readings.write(_rep_root(h, rep))
    catalog = readings_catalog(readings)
    db = catalog.db("lake")
    for name in db.get_tables():
        db.table(name, spark=h.spark)
    return catalog


def _table_files(readings: inputs.Readings, req: Request) -> int:
    if req.table == "readings_pq":
        return inputs.N_REGIONS
    from datarepo_spark.tables.delta_log import DeltaLog

    return len(DeltaLog(readings.delta_uri).snapshot(req.version).files)


def _check_frame(h: Harness, key: str, df, columns: list[str], want: tuple[int, int]) -> None:
    """Fingerprint ``df`` and compare it with its expectation."""
    h.check(key, lambda: checks.frame_fingerprint(df, columns) == want)


def catalog_reads(h: Harness) -> None:
    readings = inputs.Readings(h.seed)
    catalog = h.timed_setup(lambda rep: _prepare_readings(h, readings, rep))
    requests = _read_requests(h.rng, readings)

    def run_pass(_: int, check: bool = False) -> None:
        for i in h.rng.permutation(len(requests)):
            req = requests[i]
            h.read(
                req.kind, lambda req=req: req.call(catalog, h.spark),
                table_files=lambda req=req: _table_files(readings, req),
                check=(lambda df, req=req: _check_frame(h, req.kind, df, req.columns, req.expected))
                if check else None,
            )

    h.warm_up(lambda: run_pass(-1, check=True))
    h.loop(run_pass)


# -- delta_ingest ------------------------------------------------------------------


class Ingest:
    """The ingest client: generated batch files, the program's writer, and
    the expected table state, maintained with pyarrow."""

    def __init__(self, h: Harness, readings: inputs.Readings, table):
        self.h = h
        self.uri = readings.delta_uri
        self.table = table
        self.state = readings.rows_at()
        self.next_id = readings.next_id
        self.batch_dir = os.path.join(readings.root, "batches")
        os.makedirs(self.batch_dir, exist_ok=True)
        self.rng = np.random.default_rng([h.seed, 4])
        self.n_batches = 0
        # the latest read after a merge, with its expected fingerprint
        self.last_merge_read: Optional[tuple[str, Any, list[str], tuple[int, int]]] = None

    def _batch(self, rows: pa.Table) -> str:
        path = os.path.join(self.batch_dir, f"batch-{self.n_batches:05d}.parquet")
        self.n_batches += 1
        pq.write_table(rows, path)
        return path

    def append_rows(self) -> pa.Table:
        ids = np.arange(self.next_id, self.next_id + APPEND_ROWS, dtype=np.int64)
        self.next_id += APPEND_ROWS
        region = np.int32(self.rng.integers(0, inputs.N_REGIONS))
        return inputs.readings_rows(self.rng, ids, region)

    def merge_rows(self) -> pa.Table:
        """Key-clustered upsert: a contiguous id window of one base file,
        plus new keys in the same region."""
        region = int(self.rng.integers(0, inputs.N_REGIONS))
        block = int(self.rng.integers(0, inputs.FILES_PER_REGION))
        first = (region * inputs.ROWS_PER_REGION + block * inputs.ROWS_PER_FILE
                 + int(self.rng.integers(0, inputs.ROWS_PER_FILE - MERGE_UPDATES)))
        ids = np.concatenate(
            [np.arange(first, first + MERGE_UPDATES),
             np.arange(self.next_id, self.next_id + MERGE_INSERTS)]
        ).astype(np.int64)
        self.next_id += MERGE_INSERTS
        return inputs.readings_rows(self.rng, ids, np.int32(region))

    def step(self, kind: str, rows: pa.Table) -> None:
        """One commit of ``rows`` and its read-after-write."""
        from datarepo_spark import Filter, merge_delta, write_delta
        from datarepo_spark.tables.delta_log import DeltaLog

        h = self.h
        path = self._batch(rows)
        source = h.spark.read.parquet(path)
        if kind == "append":
            version = h.commit(kind, lambda: write_delta(source, self.uri))
            self.state = pa.concat_tables([self.state, rows])
        else:
            result = h.commit(
                kind, lambda: merge_delta(h.spark, self.uri, source, on=["id"])
            )
            version = None if result is None else result["version"]
            keep = pc.invert(pc.is_in(self.state.column("id"), value_set=rows.column("id")))
            self.state = pa.concat_tables([self.state.filter(keep), rows])
        if version is None:
            return
        if h.recording:
            added, removed = _commit_sizes(self.uri, version)
            h.commits.append(Commit(kind, os.path.getsize(path), added, removed))
        region = int(rows.column("region")[0].as_py())
        dnf = [[("region", "=", region), ("qty", ">=", 10)]]
        columns = ["id", "region", "amount", "qty"]
        filters = [Filter(*t) for t in dnf[0]]
        df = h.read(
            "read_after_write",
            lambda: self.table(filters=filters, columns=columns, spark=h.spark),
            table_files=lambda: len(DeltaLog(self.uri).snapshot().files),
        )
        if kind == "merge":  # the final-table check covers every append
            want = checks.expected_fingerprint(checks.select_rows(self.state, dnf), columns)
            self.last_merge_read = (f"read after merge v{version}", df, columns, want)


def _commit_sizes(uri: str, version: int) -> tuple[int, int]:
    """(data bytes added, files removed) by one commit, from its log entry."""
    added = removed = 0
    with open(os.path.join(uri, "_delta_log", f"{version:020d}.json"), encoding="utf-8") as fh:
        for line in fh:
            action = json.loads(line)
            if "add" in action:
                added += int(action["add"].get("size", 0))
            elif "remove" in action:
                removed += 1
    return added, removed


def _prepare_delta(h: Harness, readings: inputs.Readings, rep: int):
    """Write and open only the Delta table, the one delta_ingest uses."""
    from datarepo_spark import DeltalakeTable

    readings.write_delta(_rep_root(h, rep))
    table = DeltalakeTable("readings_delta", readings.delta_uri)
    table(spark=h.spark)
    return table


def delta_ingest(h: Harness) -> None:
    readings = inputs.Readings(h.seed)
    table = h.timed_setup(lambda rep: _prepare_delta(h, readings, rep))
    ingest = Ingest(h, readings, table)

    def step(kind: str) -> None:
        ingest.step(kind, ingest.append_rows() if kind == "append" else ingest.merge_rows())

    def run_pass(_: int) -> None:
        for kind in INGEST_PASS:
            step(kind)

    h.warm_up(lambda: run_pass(-1), lambda: step("merge"))
    h.loop(run_pass)
    t0 = time.perf_counter()
    columns = inputs.READINGS_COLUMNS
    if ingest.last_merge_read is not None and ingest.last_merge_read[1] is not None:
        _check_frame(h, *ingest.last_merge_read)
    final = ingest.table(columns=columns, spark=h.spark)
    _check_frame(h, "final table", final, columns,
                 checks.expected_fingerprint(ingest.state, columns))
    h.detail["check_s"] = round(time.perf_counter() - t0, 3)


# -- operator_pipeline -------------------------------------------------------------


def _prepare_star(h: Harness, tables: dict[str, pa.Table], rep: int) -> str:
    from datarepo_spark.queries.testdata import testdata_catalog

    root = os.path.join(_rep_root(h, rep), "star")
    inputs.write_star(root, tables)
    db = testdata_catalog(root).db("testdata")
    for name in inputs.STAR_TABLES:  # first touch: footers and schema
        db.table(name, spark=h.spark).schema
    return root


def operator_pipeline(h: Harness) -> None:
    from datarepo_spark.functions.dedup import unpersist_intermediates
    from datarepo_spark.queries import extensions  # noqa: F401  (registers its queries)
    from datarepo_spark.queries.registry import REGISTRY

    tables = inputs.star_tables(h.seed)
    star = h.timed_setup(lambda rep: _prepare_star(h, tables, rep))

    digests: dict[str, tuple[int, str]] = {}

    def run_pass(_: int, check: bool = False) -> None:
        for name in h.rng.permutation(QUERY_MIX):
            name = str(name)
            h.read(
                name, lambda name=name: REGISTRY[name].spark_fn(h.spark, star),
                check=(lambda df, name=name: digests.update({name: checks.frame_digest(df)}))
                if check else None,
            )
            unpersist_intermediates()

    # The first warm-up pass fetches every query's rows; they are compared
    # with the DuckDB oracle, which answers in a worker thread meanwhile.
    # A query that failed has no digest and is counted already. After that
    # pass alone, the first timed pass ran join_asof_backward about twice
    # as slowly as the next ones, so a second warm-up pass follows.
    with ThreadPoolExecutor(1) as pool:
        oracle = pool.submit(
            checks.oracle_digests, star, inputs.STAR_TABLES,
            {name: REGISTRY[name].oracle for name in QUERY_MIX},
        )
        h.warm_up(lambda: run_pass(-1, check=True), lambda: run_pass(-1))
        t0 = time.perf_counter()
        for name, digest in digests.items():
            h.check(name, lambda: digest == oracle.result()[name])
    h.detail["check_s"] = round(time.perf_counter() - t0, 3)
    h.loop(run_pass)


WORKLOADS = {
    "catalog_reads": catalog_reads,
    "delta_ingest": delta_ingest,
    "operator_pipeline": operator_pipeline,
}


# -- metric catalogue (mirrored by BENCHMARK.json) ---------------------------------

END_TO_END: list[tuple[str, str, str]] = [
    ("setup_s", "s", "lower"),
    ("kind_p50_geomean_ms", "ms", "lower"),
    ("kind_p50_sum_s", "s", "lower"),
    ("peak_rss_mb", "MB", "lower"),
]

PER_LAYER: list[tuple[str, str, str]] = [
    ("session.start_s", "s", "lower"),
    ("host.marker_ms", "ms", "lower"),
    ("trace.overhead_ms", "ms", "lower"),
    ("catalog.resolve_ms", "ms", "lower"),
    ("core.compile_ms", "ms", "lower"),
    ("parquet.prune_ms", "ms", "lower"),
    ("parquet.files_read_frac", "ratio", "lower"),
    ("delta_log.snapshot_ms", "ms", "lower"),
    ("delta_log.memo_hit_frac", "ratio", "higher"),
    ("delta_log.commits_replayed", "count", "lower"),
    ("delta_table.call_ms", "ms", "lower"),
    ("delta_table.files_kept_frac", "ratio", "lower"),
    ("delta_writer.append_ms", "ms", "lower"),
    ("delta_writer.merge_ms", "ms", "lower"),
    ("delta_writer.checkpoint_ms", "ms", "lower"),
    ("delta_writer.files_rewritten_per_merge", "count", "lower"),
    ("delta_writer.bytes_written", "bytes", "lower"),
    ("delta_writer.write_amp", "bytes/byte", "lower"),
    ("spark.plan_ms", "ms", "lower"),
    ("spark.build_jobs", "count", "lower"),
    ("spark.action_jobs", "count", "lower"),
    ("spark.stages", "count", "lower"),
    ("spark.tasks", "count", "lower"),
    ("spark.shuffle_write_bytes", "bytes", "lower"),
    ("spark.spill_bytes", "bytes", "lower"),
    ("spark.gc_ms", "ms", "lower"),
    ("spark.executor_cpu_ms", "ms", "lower"),
    ("spark.task_skew", "ratio", "lower"),
    *[(f"kind.{k}.{m}", u, "lower")
      for k in [*READ_KINDS, "read_after_write"]
      for m, u in (("jobs", "count"), ("plan_ms", "ms"))],
    ("kind.append.jobs", "count", "lower"),
    ("kind.merge.jobs", "count", "lower"),
    *[(f"query.{q}.{m}", "s", "lower") for q in QUERY_MIX for m in ("build_s", "action_s")],
]


def _median(values) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else 0.0


def per_layer(h: Harness, event_log_dir: Optional[str]) -> dict[str, float]:
    out = {name: 0.0 for name, _, _ in PER_LAYER}
    out["session.start_s"] = h.detail.get("session_start_s", 0.0)
    out["host.marker_ms"] = h.detail.get("marker_ms", {}).get("start", 0.0)
    # per kind, traced minus untraced median, averaged over the kinds
    traced, untraced = {}, {}
    for samples, by_kind in ((h.samples, traced), (h.untraced, untraced)):
        for s in samples:
            by_kind.setdefault(s.kind, []).append(s.ms)
    both = traced.keys() & untraced.keys()
    if both:
        out["trace.overhead_ms"] = statistics.fmean(
            _median(traced[k]) - _median(untraced[k]) for k in both
        )
    tracer = h.tracer
    if tracer is not None:
        for metric, span in (
            ("catalog.resolve_ms", "catalog.resolve"),
            ("core.compile_ms", "core.compile"),
            ("parquet.prune_ms", "parquet.prune"),
            ("delta_table.call_ms", "delta_table.call"),
        ):
            out[metric] = _median(tracer.per_op_ms(span).values())
        out["delta_log.snapshot_ms"] = _median(tracer.durations_ms("delta_log.snapshot"))
        out["delta_writer.checkpoint_ms"] = _median(tracer.durations_ms("delta_writer.checkpoint"))
        out["delta_log.memo_hit_frac"], out["delta_log.commits_replayed"] = tracer.snapshot_stats()
    for kind, metric in (("append", "delta_writer.append_ms"), ("merge", "delta_writer.merge_ms")):
        out[metric] = _median(s.ms for s in h.samples if s.kind == kind)
    merges = [c for c in h.commits if c.kind == "merge"]
    out["delta_writer.files_rewritten_per_merge"] = (
        statistics.fmean(c.files_removed for c in merges) if merges else 0.0
    )
    out["delta_writer.bytes_written"] = _median(c.added_bytes for c in h.commits)
    source = sum(c.source_bytes for c in h.commits)
    out["delta_writer.write_amp"] = sum(c.added_bytes for c in h.commits) / source if source else 0.0
    out["spark.plan_ms"] = _median(r.plan_ms for r in h.ops.values() if r.plan_ms is not None)
    for kind in [*READ_KINDS, "read_after_write"]:
        out[f"kind.{kind}.plan_ms"] = _median(
            r.plan_ms for r in h.ops.values() if r.kind == kind and r.plan_ms is not None
        )
    for q in QUERY_MIX:
        records = [r for r in h.ops.values() if r.kind == q]
        out[f"query.{q}.build_s"] = _median(r.build_ms / 1e3 for r in records)
        out[f"query.{q}.action_s"] = _median(r.action_ms / 1e3 for r in records)
    # means, not medians: two of the three Parquet kinds read every file,
    # so a median would hide a change to the third
    for metric, parquet in (("parquet.files_read_frac", True), ("delta_table.files_kept_frac", False)):
        fracs = [r.files_frac for r in h.ops.values()
                 if r.files_frac is not None and r.kind.startswith("pq_") == parquet]
        out[metric] = statistics.fmean(fracs) if fracs else 0.0
    if event_log_dir is not None and h.ops:
        groups = fold_event_log(event_log_dir)
        empty = {"jobs": 0, "stages": 0, "tasks": 0, "shuffle_write_bytes": 0,
                 "spill_bytes": 0, "gc_ms": 0, "executor_cpu_ms": 0, "task_skew": 1.0}
        per_op = {}
        for op, record in h.ops.items():
            build = groups.get(f"{op}|build", empty)
            action = groups.get(f"{op}|action", empty)
            both = {k: build[k] + action[k] for k in empty if k != "task_skew"}
            both["task_skew"] = max(build["task_skew"], action["task_skew"])
            both["build_jobs"], both["action_jobs"] = build["jobs"], action["jobs"]
            per_op[op] = (record.kind, both)
        for key in ("build_jobs", "action_jobs", "stages", "tasks", "shuffle_write_bytes",
                    "spill_bytes", "gc_ms", "executor_cpu_ms", "task_skew"):
            out[f"spark.{key}"] = _median(v[key] for _, v in per_op.values())
        for kind in [*READ_KINDS, *INGEST_KINDS]:
            out[f"kind.{kind}.jobs"] = _median(
                v["jobs"] for k, v in per_op.values() if k == kind
            )
    return out
