"""Traced-run plumbing, kept entirely in the benchmark.

- ``Tracer``: in-memory spans around calls into the program's layers.
  The hooks replace module and class attributes for the duration of the
  traced phase and restore them after; the program's code is unchanged.
- ``fold_event_log``: folds Spark's uncompressed, non-rolling event log
  into per-job-group stage, task, shuffle, spill, GC and CPU numbers. The
  benchmark runs every request under its own job group.
- ``PeakRss``: samples the proportional resident memory of this process
  and all of its descendants (the JVM and its Python workers).
"""

from __future__ import annotations

import functools
import glob
import json
import os
import statistics
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from typing import Any, Optional


class Tracer:
    """Spans are ``[op, name, parent_index, start, end]`` lists; ``op`` is
    the request the span belongs to (None outside requests)."""

    def __init__(self) -> None:
        self.spans: list[list[Any]] = []
        self.op: Optional[str] = None
        self._stack: list[int] = []
        self._patches: list[tuple[Any, str, Any]] = []

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        record = [self.op, name, parent, time.perf_counter(), None]
        self._stack.append(len(self.spans))
        self.spans.append(record)
        try:
            yield
        finally:
            record[4] = time.perf_counter()
            self._stack.pop()

    def wrap(self, owner: Any, attr: str, name: str) -> None:
        original = getattr(owner, attr)
        tracer = self

        @functools.wraps(original)
        def traced(*args, **kwargs):
            with tracer.span(name):
                return original(*args, **kwargs)

        setattr(owner, attr, traced)
        self._patches.append((owner, attr, original))

    def install_layer_hooks(self) -> None:
        """Span every public entry point of the layers named after the
        program's modules (plus the log replay, which marks a memo miss)."""
        from datarepo_spark.catalog import catalog
        from datarepo_spark.tables import delta_log, delta_table, delta_writer, parquet_table

        self.wrap(catalog.Catalog, "db", "catalog.resolve")
        for db_class in (catalog.DictDatabase, catalog.DatabaseWithGlobalArgs):
            self.wrap(db_class, "get_table", "catalog.resolve")
        for module in (parquet_table, delta_table):
            for fn in ("normalize_filters", "validate_filters", "filters_to_column"):
                if hasattr(module, fn):
                    self.wrap(module, fn, "core.compile")
        self.wrap(parquet_table.ParquetTable, "build_uri_from_filters", "parquet.prune")
        self.wrap(delta_table.DeltalakeTable, "__call__", "delta_table.call")
        self.wrap(delta_log.DeltaLog, "snapshot", "delta_log.snapshot")
        self.wrap(delta_log.DeltaLog, "_replay", "delta_log.replay")
        self.wrap(delta_log, "read_commit_actions", "delta_log.commit_read")
        self.wrap(delta_writer, "write_checkpoint", "delta_writer.checkpoint")

    def restore(self) -> None:
        while self._patches:
            owner, attr, original = self._patches.pop()
            setattr(owner, attr, original)

    # -- folding ------------------------------------------------------------

    def _ancestor(self, index: int, name: str) -> Optional[int]:
        parent = self.spans[index][2]
        while parent is not None:
            if self.spans[parent][1] == name:
                return parent
            parent = self.spans[parent][2]
        return None

    def _indices(self, name: str) -> list[int]:
        return [i for i, r in enumerate(self.spans) if r[1] == name and r[0] is not None]

    def _outermost(self, name: str) -> list[list[Any]]:
        """Spans called ``name`` inside a request and not nested in another
        span of that name (a re-entrant call counts once)."""
        return [self.spans[i] for i in self._indices(name)
                if self._ancestor(i, name) is None]

    def per_op_ms(self, name: str) -> dict[str, float]:
        """op → total milliseconds spent in ``name``."""
        out: dict[str, float] = defaultdict(float)
        for op, _, _, start, end in self._outermost(name):
            out[op] += (end - start) * 1e3
        return dict(out)

    def durations_ms(self, name: str) -> list[float]:
        return [(r[4] - r[3]) * 1e3 for r in self._outermost(name)]

    def snapshot_stats(self) -> tuple[float, float]:
        """(memo hit fraction of snapshot calls, JSON commits read per log
        replay) inside requests. A call that replays the log is a miss."""
        calls = self._indices("delta_log.snapshot")
        replays = self._indices("delta_log.replay")
        missed = {self._ancestor(i, "delta_log.snapshot") for i in replays} - {None}
        commits = [i for i in self._indices("delta_log.commit_read")
                   if self._ancestor(i, "delta_log.replay") is not None]
        hit_frac = 1.0 - len(missed) / len(calls) if calls else 0.0
        return hit_frac, (len(commits) / len(replays) if replays else 0.0)


def fold_event_log(log_dir: str) -> dict[str, dict[str, float]]:
    """job group → {jobs, stages, tasks, shuffle_write_bytes, spill_bytes,
    gc_ms, executor_cpu_ms, task_skew}."""
    paths = [p for p in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(p)]
    stage_group: dict[int, str] = {}
    jobs: dict[str, int] = defaultdict(int)
    tasks: dict[str, list[tuple[int, int, dict]]] = defaultdict(list)
    for path in paths:
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                event = json.loads(line)
                kind = event.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (event.get("Properties") or {}).get("spark.jobGroup.id")
                    if group is None:
                        continue
                    jobs[group] += 1
                    for stage in event.get("Stage IDs", []):
                        stage_group[stage] = group
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(event.get("Stage ID"))
                    if group is None:
                        continue
                    info = event.get("Task Info") or {}
                    duration = info.get("Finish Time", 0) - info.get("Launch Time", 0)
                    tasks[group].append(
                        (event["Stage ID"], duration, event.get("Task Metrics") or {})
                    )
    out: dict[str, dict[str, float]] = {}
    for group in set(jobs) | set(tasks):
        records = tasks.get(group, [])
        durations = [d for _, d, _ in records]
        median = statistics.median(durations) if durations else 0
        metrics = [m for _, _, m in records]
        out[group] = {
            "jobs": jobs.get(group, 0),
            "stages": len({s for s, _, _ in records}),
            "tasks": len(records),
            "shuffle_write_bytes": sum(
                (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                for m in metrics
            ),
            "spill_bytes": sum(
                m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                for m in metrics
            ),
            "gc_ms": sum(m.get("JVM GC Time", 0) for m in metrics),
            "executor_cpu_ms": sum(m.get("Executor CPU Time", 0) for m in metrics) / 1e6,
            "task_skew": (max(durations) / median) if median > 0 else 1.0,
        }
    return out


class PeakRss:
    """Background sampler of the summed proportional RSS of this process tree."""

    def __init__(self, interval_s: float = 0.5) -> None:
        self.interval_s = interval_s
        self.peak_bytes = 0
        self.at_peak_mb: list[int] = []  # per-process RSS at the peak
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()

    def _loop(self) -> None:
        while not self._stop.wait(self.interval_s):
            self.sample()

    def sample(self) -> None:
        # Proportional set size: pages shared after a fork (the Python
        # worker daemon's children, a JVM child before exec) count once.
        sizes = {}
        for pid in [os.getpid(), *descendants()]:
            try:
                with open(f"/proc/{pid}/smaps_rollup") as fh:
                    for line in fh:
                        if line.startswith("Pss:"):
                            sizes[pid] = int(line.split()[1]) * 1024
                            break
            except (OSError, IndexError, ValueError):
                continue
        total = sum(sizes.values())
        if total > self.peak_bytes:
            self.peak_bytes = total
            self.at_peak_mb = sorted(round(v / 2**20) for v in sizes.values())


def descendants(root: Optional[int] = None) -> list[int]:
    """Every live descendant pid of ``root`` (default: this process)."""
    root = os.getpid() if root is None else root
    children: dict[int, list[int]] = defaultdict(list)
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # the command name may hold spaces; fields resume after its ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children[ppid].append(int(entry))
    out, todo = [], [root]
    while todo:
        for child in children.get(todo.pop(), []):
            out.append(child)
            todo.append(child)
    return out
