"""lakebench: seeded, layer-mapped benchmark of datarepo_spark.

Usage, from the repository root:

    python3 lakebench/run.py --workload catalog_reads --seed 1 --seconds 8 --trace 0

Workloads (see BENCHMARK.json for why each exists):

- ``catalog_reads``: ``Catalog.db(..).table(name, filters=, columns=)``
  reads over a hive-partitioned Parquet table and a checkpointed Delta
  table: partition point lookups, id-range filters, OR-branch filters and
  a ``version=`` time-travel read.
- ``delta_ingest``: ``write_delta`` appends and key-clustered
  ``merge_delta`` upserts, each followed by a filtered read-after-write
  through ``DeltalakeTable``.
- ``operator_pipeline``: a fixed mix of registry queries over generated
  TPC-H-like tables, checked against their DuckDB oracles.

Everything the program reads is generated from ``--seed`` under
``.lakebench_work/`` in the current directory. ``--trace 0`` prints the
end-to-end metrics; ``--trace 1`` runs with spans around each layer's
entry points and a Spark event log, and prints the per-layer metrics.
The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``; the line before it carries run details (host
contention marker, sample counts, per-kind medians, session confs).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def parse_args(argv=None) -> argparse.Namespace:
    from lakebench.workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def session_conf(work: str, trace: bool) -> dict[str, str]:
    tmp = os.path.join(work, "tmp")
    conf = {
        # Python workers import datarepo_spark from the checkout, from any cwd
        "spark.executorEnv.PYTHONPATH": ROOT,
        "spark.executorEnv.TMPDIR": tmp,
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # A fixed 1 GiB heap: the JVM's share of peak memory does not depend
        # on when G1 decides to grow the heap. No hsperfdata file is written
        # to the system temp directory.
        "spark.driver.extraJavaOptions": (
            f"-Xms1g -XX:-UsePerfData -Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}"
        ),
        "spark.driver.memory": "1g",
    }
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": f"file://{log_dir}",
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    return conf


def host_marker_ms(spark, reps: int = 3) -> float:
    """Median wall time of one fixed single-task query: a slow window on a
    shared host shows here."""
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        spark.range(0, 2_000_000, 1, 1).selectExpr("sum(id % 7)").collect()
        times.append((time.perf_counter() - t0) * 1e3)
    return statistics.median(times)


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs: the share of time the hypervisor
    gave to other guests is another view of host contention."""
    with open("/proc/stat") as fh:
        fields = [int(x) for x in fh.readline().split()[1:]]
    return fields[7], sum(fields[:8])


def stop_spark(spark) -> None:
    """Stop the session, the JVM and its Python workers, and wait for all."""
    from pyspark import SparkContext

    from lakebench.tracing import descendants

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    children = descendants()
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the JVM exits on EOF
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.monotonic() + 30
    for pid in children:
        while _alive(pid) and time.monotonic() < deadline:
            time.sleep(0.1)
        if _alive(pid):
            os.kill(pid, 9)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def main(argv=None) -> int:
    t_main = time.perf_counter()
    args = parse_args(argv)
    # Fail before starting anything when the program is not beside us.
    import datarepo_spark  # noqa: F401
    import pyspark

    from lakebench import workloads
    from lakebench.tracing import PeakRss

    os.environ["TZ"] = "UTC"
    time.tzset()
    work = os.path.join(os.getcwd(), ".lakebench_work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    trace = bool(args.trace)
    nproc = len(os.sched_getaffinity(0))
    conf = session_conf(work, trace)

    from datarepo_spark.session import get_spark

    steal0, total0 = cpu_ticks()
    with PeakRss() as rss:
        t0 = time.perf_counter()
        spark = get_spark(
            "lakebench", master=f"local[{nproc}]", shuffle_partitions=nproc, extra_conf=conf
        )
        spark.sparkContext.setLogLevel("ERROR")
        h = workloads.Harness(spark, work, args.seed, args.seconds, trace)
        h.detail["session_start_s"] = time.perf_counter() - t0
        try:
            h.detail["marker_ms"] = {"start": host_marker_ms(spark)}
            workloads.WORKLOADS[args.workload](h)
            h.detail["marker_ms"]["end"] = host_marker_ms(spark)
            h.detail["confs"] = {
                k: v for k, v in spark.sparkContext.getConf().getAll()
                if k.startswith("spark.sql.") or k in ("spark.master", "spark.driver.memory")
            }
        finally:
            t_stop = time.perf_counter()
            stop_spark(spark)
            h.detail["stop_s"] = round(time.perf_counter() - t_stop, 3)

    h.detail["rss_at_peak_mb"] = rss.at_peak_mb
    steal1, total1 = cpu_ticks()
    h.detail["steal_frac"] = round((steal1 - steal0) / max(1, total1 - total0), 4)
    if not h.samples:
        print("lakebench: no request completed", file=sys.stderr)
        return 1
    if trace:
        metrics = workloads.per_layer(h, os.path.join(work, "eventlog"))
        units = {name: unit for name, unit, _ in workloads.PER_LAYER}
    else:
        metrics = h.end_to_end(rss.peak_bytes)
        units = {name: unit for name, unit, _ in workloads.END_TO_END}
    h.detail.update(
        wall_s=round(time.perf_counter() - t_main, 3),
        workload=args.workload, seed=args.seed, nproc=nproc, spark=pyspark.__version__,
        setup_reps_s=[round(s, 4) for s in h.setup_s], check_failures=h.check_failures,
    )
    print(json.dumps({"detail": h.detail}, default=str))
    failed = h.failed + len(h.check_failures)
    print(
        json.dumps(
            {
                "correct": not h.check_failures and h.failed == 0,
                "attempted": h.attempted,
                "failed": failed,
                "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.path[0] = ROOT  # import lakebench as a package, and the program beside it
    sys.exit(main())
