"""Structured Streaming tests: a bounded file stream driven through
watermarked windowed aggregation must reproduce the batch result exactly
(same decimal accumulation), across multiple micro-batches."""

import os
import shutil

import pytest
from pyspark.sql import functions as F

from datarepo_spark.queries.registry import REGISTRY
from datarepo_spark.streaming import events as SE


@pytest.fixture(scope="module")
def events_dir(tmp_path_factory, sf_dir):
    # Split the single events parquet into several files so the stream
    # runs as multiple micro-batches (maxFilesPerTrigger=1).
    import pyarrow.parquet as pq

    out = tmp_path_factory.mktemp("events_stream")
    table = pq.read_table(os.path.join(sf_dir, "events.parquet"))
    n = 4
    step = (table.num_rows + n - 1) // n
    import time

    base_mtime = time.time() - n
    for i in range(n):
        chunk = table.slice(i * step, step)
        if chunk.num_rows:
            p = str(out / f"part-{i}.parquet")
            pq.write_table(chunk, p)
            # FileStreamSource orders files by mtime; equal mtimes make
            # batch order (and thus late-data behavior) nondeterministic.
            os.utime(p, (base_mtime + i, base_mtime + i))
    yield str(out)
    shutil.rmtree(str(out), ignore_errors=True)


class TestStreamingWindows:
    def test_tumbling_matches_batch(self, spark, events_dir, sf_dir):
        stream = SE.read_events_stream(spark, events_dir, max_files_per_trigger=1)
        result = SE.windowed_aggregation(stream, window="1 hour")
        got = SE.run_stream_to_memory(result, "stream_tumbling")
        batch = REGISTRY["events_tumbling_window"].spark_fn(spark, sf_dir)
        g = {
            (r.window_start, r.event_type): (r.n_events, r.total_value)
            for r in got.collect()
        }
        b = {
            (r.window_start, r.event_type): (r.n_events, r.total_value)
            for r in batch.collect()
        }
        assert g == b  # incremental state == batch, bit-exact

    def test_sliding_window(self, spark, events_dir):
        stream = SE.read_events_stream(spark, events_dir)
        result = SE.windowed_aggregation(
            stream, window="2 hours", slide="1 hour"
        )
        got = SE.run_stream_to_memory(result, "stream_sliding")
        rows = got.collect()
        assert len(rows) > 0
        # every event lands in exactly 2 sliding windows → total doubles
        total_sliding = sum(r.n_events for r in rows)
        batch_total = (
            spark.read.parquet(events_dir).count()
        )
        assert total_sliding == 2 * batch_total

    def test_session_aggregation(self, spark, events_dir):
        stream = SE.read_events_stream(spark, events_dir)
        result = SE.session_aggregation(stream, gap="30 minutes")
        got = SE.run_stream_to_memory(result, "stream_sessions")
        rows = got.collect()
        assert len(rows) > 0
        n_events = sum(r.n_events for r in rows)
        assert n_events == spark.read.parquet(events_dir).count()

    def test_is_actually_streaming(self, spark, events_dir):
        stream = SE.read_events_stream(spark, events_dir)
        assert stream.isStreaming
        result = SE.windowed_aggregation(stream)
        assert result.isStreaming


class TestStatefulSessionize:
    """applyInPandasWithState custom sessionizer: closed sessions must match
    the batch lag-gap sessionization exactly on (user, start, count)."""

    def _batch_sessions(self, spark, events_dir):
        e = spark.read.schema(SE.EVENTS_FILE_SCHEMA).parquet(events_dir)
        from pyspark.sql import Window

        w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        gap = F.unix_micros(F.col("ts")) - F.lag(
            F.unix_micros(F.col("ts"))
        ).over(w)
        is_new = F.when(gap.isNull() | (gap > 30 * 60 * 1_000_000), 1).otherwise(0)
        sess = e.withColumn("is_new", is_new).withColumn(
            "session_id",
            F.sum("is_new").over(
                Window.partitionBy("user_id")
                .orderBy("ts", "event_id")
                .rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
        return (
            sess.groupBy("user_id", "session_id")
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.min("ts").alias("session_start"),
                F.max("ts").alias("session_end"),
            )
            .collect()
        )

    def test_closed_sessions_match_batch(self, spark, events_dir):
        from datarepo_spark.streaming.stateful import stateful_sessionize

        stream = SE.read_events_stream(spark, events_dir, max_files_per_trigger=1)
        result = stateful_sessionize(stream, gap_minutes=30, watermark="1 minute")
        assert result.isStreaming
        got = SE.run_stream_to_memory(result, "stateful_sessions", output_mode="append")
        emitted = got.collect()
        assert len(emitted) > 0

        batch = self._batch_sessions(spark, events_dir)
        bmap = {(r.user_id, r.session_start): r for r in batch}
        # 1. every emitted session is a batch session, bit-equal on
        #    count and boundaries
        for r in emitted:
            key = (r.user_id, r.session_start)
            assert key in bmap, f"spurious session {key}"
            b = bmap[key]
            assert r.n_events == b.n_events
            assert r.session_end == b.session_end
        # 2. nothing emitted twice (append-mode exactly-once contract)
        keys = [(r.user_id, r.session_start) for r in emitted]
        assert len(keys) == len(set(keys))
        # 3. sessions closed BY DATA (a later event for the same user
        #    exists) must all have been emitted; only each user's final
        #    session may legitimately still be open at end-of-stream.
        last_per_user = {}
        for r in batch:
            cur = last_per_user.get(r.user_id)
            if cur is None or r.session_start > cur.session_start:
                last_per_user[r.user_id] = r
        non_last = [
            (r.user_id, r.session_start)
            for r in batch
            if last_per_user[r.user_id].session_start != r.session_start
        ]
        missing = set(non_last) - set(keys)
        assert not missing, f"{len(missing)} data-closed sessions not emitted"


class TestStreamingDedup:
    @pytest.fixture(scope="class")
    def dup_events_dir(self, spark, tmp_path_factory, events_dir):
        # Re-emit file 1's rows as a later file: an at-least-once
        # redelivery. mtimes spaced so batch order is deterministic.
        import time as _time

        import pyarrow.parquet as pq

        out = tmp_path_factory.mktemp("events_dup")
        base = _time.time() - 10
        srcs = sorted(os.listdir(events_dir))
        for i, f in enumerate(srcs):
            shutil.copy(os.path.join(events_dir, f), str(out / f))
            os.utime(str(out / f), (base + i, base + i))
        redelivery = str(out / "part-redelivered.parquet")
        pq.write_table(
            pq.read_table(os.path.join(events_dir, srcs[1])), redelivery
        )
        os.utime(redelivery, (base + len(srcs), base + len(srcs)))
        return str(out)

    def test_exact_dedup_within_watermark(self, spark, dup_events_dir, events_dir):
        from datarepo_spark.streaming.dedup import dedup_stream

        stream = SE.read_events_stream(
            spark, dup_events_dir, max_files_per_trigger=2
        )
        deduped = dedup_stream(
            stream, ["event_id"], ts_col="ts", within="30 days"
        )
        got = SE.run_stream_to_memory(deduped, "stream_dedup", "append")
        n_unique = spark.read.parquet(events_dir).count()
        assert got.count() == n_unique
        ids = [r.event_id for r in got.select("event_id").collect()]
        assert len(ids) == len(set(ids))

    def test_content_dedup(self, spark, dup_events_dir, events_dir):
        from datarepo_spark.streaming.dedup import dedup_stream_by_content

        stream = SE.read_events_stream(
            spark, dup_events_dir, max_files_per_trigger=2
        )
        deduped = dedup_stream_by_content(
            stream, "event_id", ts_col="ts", within="30 days"
        )
        got = SE.run_stream_to_memory(deduped, "stream_dedup_content", "append")
        assert got.count() == spark.read.parquet(events_dir).count()
        assert "__ck" not in got.columns


class TestStreamJoins:
    def test_interval_join_stream_equals_batch(self, spark, events_dir):
        """Stream-stream interval join (click→purchase within the window)
        must reproduce the batch join exactly — state-store buffering and
        watermark eviction change WHEN rows emit, never WHICH rows."""
        from datarepo_spark.streaming.joins import interval_join

        def split(df):
            clicks = df.filter(F.col("event_type") == "click").select(
                "user_id", "ts", "event_id"
            )
            buys = df.filter(F.col("event_type") == "purchase").select(
                "user_id", "ts", "event_id", "value"
            )
            return clicks, buys

        batch = spark.read.parquet(events_dir)
        bc, bb = split(batch)
        expect = sorted(
            (r.event_id, r.event_id_r)
            for r in interval_join(
                bc, bb, key="user_id", upper="30 minutes"
            ).collect()
        )
        assert expect, "fixture must produce at least one joined pair"

        sc_, sb = split(SE.read_events_stream(spark, events_dir))
        joined = interval_join(sc_, sb, key="user_id", upper="30 minutes")
        got = SE.run_stream_to_memory(
            joined, "stream_interval_join", output_mode="append"
        )
        assert (
            sorted((r.event_id, r.event_id_r) for r in got.collect())
            == expect
        )

    def test_enrich_stream_broadcast_dim(self, spark, events_dir):
        from datarepo_spark.streaming.joins import enrich_stream

        dim = spark.createDataFrame(
            [("click", "engagement"), ("purchase", "revenue")],
            ["event_type", "category"],
        )
        stream = SE.read_events_stream(spark, events_dir)
        out = SE.run_stream_to_memory(
            enrich_stream(stream, dim, on="event_type"),
            "stream_enriched",
            output_mode="append",
        )
        rows = out.collect()
        batch_n = spark.read.parquet(events_dir).count()
        assert len(rows) == batch_n  # left join keeps every event
        cats = {
            r.category
            for r in rows
            if r.event_type in ("click", "purchase")
        }
        assert cats <= {"engagement", "revenue"} and cats

    def test_enrich_rejects_streaming_dim(self, spark, events_dir):
        from datarepo_spark.streaming.joins import enrich_stream

        s = SE.read_events_stream(spark, events_dir)
        with pytest.raises(ValueError, match="static"):
            enrich_stream(s, s, on="event_id")


class TestStreamingAnomaly:
    """Online z-score twin of events_anomaly_zscore: each event scored
    against the running moments of everything before it."""

    def _replay(self, spark, events_dir, threshold, min_n):
        """Reference verdicts: single-threaded fold over the batch data
        in the stream's own (per-type, ts-then-id) order."""
        import math

        e = (
            spark.read.schema(SE.EVENTS_FILE_SCHEMA)
            .parquet(events_dir)
            .select("event_id", "ts", "event_type", "value")
            .collect()
        )
        by_type: dict = {}
        for r in sorted(e, key=lambda r: (r.ts, r.event_id)):
            by_type.setdefault(r.event_type, []).append(r)
        flagged = {}
        for etype, rows in by_type.items():
            n, s1, s2 = 0, 0.0, 0.0
            for r in rows:
                v = float(r.value)
                if n >= min_n:
                    mu = s1 / n
                    var = max(s2 - s1 * s1 / n, 0.0) / (n - 1)
                    sigma = math.sqrt(var)
                    if sigma > 0:
                        z = (v - mu) / sigma
                        if abs(z) > threshold:
                            flagged[r.event_id] = (round(z, 4), n)
                n += 1
                s1 += v
                s2 += v * v
        return flagged

    def test_stream_matches_online_replay(self, spark, events_dir):
        from datarepo_spark.streaming.anomaly import (
            streaming_anomaly_zscore,
        )

        stream = SE.read_events_stream(
            spark, events_dir, max_files_per_trigger=2
        )
        result = streaming_anomaly_zscore(
            stream, threshold=2.5, min_n=20
        )
        assert result.isStreaming
        got = SE.run_stream_to_memory(
            result, "anomalies", output_mode="append"
        )
        emitted = {r.event_id: (r.z, r.n_seen) for r in got.collect()}
        expected = self._replay(spark, events_dir, 2.5, 20)
        assert emitted, "no anomalies emitted — threshold too strict?"
        # batch-boundary effects cannot occur: within one type, files
        # arrive in order and each micro-batch folds sorted — verdicts
        # must match the sequential replay exactly
        assert emitted == expected

    def test_state_is_per_type_and_bounded(self, spark, events_dir):
        from datarepo_spark.streaming.anomaly import make_detector

        # pure-function check: a constant series then a spike
        import pandas as pd

        class FakeState:
            exists = False

            def __init__(self):
                self.value = None

            @property
            def get(self):
                return self.value

            def update(self, v):
                self.value = v
                self.exists = True

        det = make_detector(threshold=3.0, min_n=5)
        ts = pd.Timestamp("2024-01-01")
        base = pd.DataFrame(
            {
                "event_id": range(10),
                "ts": [ts] * 10,
                "event_type": ["t"] * 10,
                "value": [10.0, 11.0] * 5,
            }
        )
        spike = pd.DataFrame(
            {
                "event_id": [99],
                "ts": [ts],
                "event_type": ["t"],
                "value": [1000.0],
            }
        )
        state = FakeState()
        out1 = list(det(("t",), [base], state))
        assert out1 == []  # alternating baseline: nothing flags
        out2 = list(det(("t",), [spike], state))
        assert len(out2) == 1 and out2[0]["event_id"].iloc[0] == 99
        n, s1, s2 = state.value
        assert n == 11 and s1 == 10.0 * 5 + 11.0 * 5 + 1000.0


class TestCheckpointTxnIdentity:
    def test_equivalent_spellings_share_identity(self):
        from datarepo_spark.streaming import checkpoint_txn_identity as ci

        base = ci("q", "/data/ckpt")
        assert ci("q", "/data/ckpt/") == base
        assert ci("q", "file:///data/ckpt") == base
        assert ci("q", "/data/../data/ckpt") == base
        assert ci("q", "/data/ckpt2") != base
        assert ci("other", "/data/ckpt") != base
        # remote schemes keep scheme + host, normalize the path
        s = ci("q", "s3a://bucket/ckpt")
        assert ci("q", "s3a://bucket/ckpt/") == s
        assert ci("q", "s3a://other/ckpt") != s

    def test_file_uri_authority_handling(self):
        """RFC 8089: empty/localhost authority names the local path; a
        real host is kept as an authority (never folded into a relative
        path, which would make the identity cwd-dependent)."""
        import os

        from datarepo_spark.streaming import checkpoint_txn_identity as ci

        base = ci("q", "/data/ckpt")
        assert ci("q", "file://localhost/data/ckpt") == base
        # RFC 8089 minimal form (no authority) — the spelling Hadoop/
        # Spark itself renders; must NOT resolve cwd-relative
        assert ci("q", "file:/data/ckpt") == base
        assert ci("q", "file:///data/ckpt") == base
        cwd0 = os.getcwd()
        try:
            os.chdir("/tmp")
            assert ci("q", "file:/data/ckpt") == base
        finally:
            os.chdir(cwd0)
        h = ci("q", "file://nfs-host/data/ckpt")
        assert h != base
        assert ci("q", "file://nfs-host/data/ckpt/") == h
        assert ci("q", "file://other-host/data/ckpt") != h
        # cwd-independence of the host form
        cwd = os.getcwd()
        try:
            os.chdir("/tmp")
            assert ci("q", "file://nfs-host/data/ckpt") == h
        finally:
            os.chdir(cwd)


class TestStatefulDebounce:
    """Streaming twin of the batch events_debounce query: every
    data-closed burst must match the batch lag-gap collapse exactly on
    (user, type, first_ts, count)."""

    def _batch_bursts(self, spark, events_dir):
        e = spark.read.schema(SE.EVENTS_FILE_SCHEMA).parquet(events_dir)
        from pyspark.sql import Window

        w = Window.partitionBy("user_id", "event_type").orderBy(
            "ts", "event_id"
        )
        gap = F.unix_micros(F.col("ts")) - F.lag(
            F.unix_micros(F.col("ts"))
        ).over(w)
        is_new = F.when(gap.isNull() | (gap > 60 * 1_000_000), 1).otherwise(0)
        b = e.withColumn(
            "burst_id",
            F.sum(is_new).over(
                Window.partitionBy("user_id", "event_type")
                .orderBy("ts", "event_id")
                .rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
        return (
            b.groupBy("user_id", "event_type", "burst_id")
            .agg(
                F.min("ts").alias("first_ts"),
                F.count(F.lit(1)).alias("n_collapsed"),
            )
            .collect()
        )

    def test_closed_bursts_match_batch(self, spark, events_dir):
        from datarepo_spark.streaming.stateful import stateful_debounce

        stream = SE.read_events_stream(
            spark, events_dir, max_files_per_trigger=1
        )
        result = stateful_debounce(
            stream, gap_seconds=60, watermark="1 minute"
        )
        assert result.isStreaming
        got = SE.run_stream_to_memory(
            result, "stateful_debounce", output_mode="append"
        )
        emitted = got.collect()
        assert len(emitted) > 0

        batch = self._batch_bursts(spark, events_dir)
        bmap = {
            (r.user_id, r.event_type, r.first_ts): r for r in batch
        }
        for r in emitted:
            key = (r.user_id, r.event_type, r.first_ts)
            assert key in bmap, f"spurious burst {key}"
            assert r.n_collapsed == bmap[key].n_collapsed, key
        keys = [(r.user_id, r.event_type, r.first_ts) for r in emitted]
        assert len(keys) == len(set(keys))  # exactly-once per burst
        # bursts closed BY DATA (a later burst exists for the same
        # (user, type)) must all have been emitted
        last = {}
        for r in batch:
            cur = last.get((r.user_id, r.event_type))
            if cur is None or r.first_ts > cur.first_ts:
                last[(r.user_id, r.event_type)] = r
        non_last = [
            (r.user_id, r.event_type, r.first_ts)
            for r in batch
            if last[(r.user_id, r.event_type)].first_ts != r.first_ts
        ]
        missing = set(non_last) - set(keys)
        assert not missing, f"{len(missing)} data-closed bursts missing"


class TestDebouncerOutOfOrder:
    """make_debouncer must keep batch lag-gap semantics under
    out-of-order arrival across batches (ADVICE r8): an above-watermark
    event more than one gap before the open burst's start is its own
    earlier burst, and a late chain reconnects through other events of
    its batch when its tail reaches within one gap of the start."""

    class _FakeState:
        def __init__(self):
            self._val = None
            self.hasTimedOut = False

        @property
        def exists(self):
            return self._val is not None

        @property
        def get(self):
            return self._val

        def update(self, v):
            self._val = tuple(v)

        def remove(self):
            self._val = None

        def setTimeoutTimestamp(self, ms):
            self.timeout_ms = ms

        def getCurrentWatermarkMs(self):
            return 0

    def _feed(self, db, state, ts_seconds):
        import pandas as pd

        pdf = pd.DataFrame(
            {
                "event_id": list(range(len(ts_seconds))),
                "ts": [pd.Timestamp(s, unit="s") for s in ts_seconds],
            }
        )
        out = list(db(("u1", "click"), [pdf], state))
        return sorted(
            (int(r["first_ts"][0].timestamp()), int(r["n_collapsed"][0]))
            for r in out
        )

    def test_late_singleton_is_its_own_burst(self):
        from datarepo_spark.streaming.stateful import make_debouncer

        db = make_debouncer(gap_seconds=60)
        st = self._FakeState()
        assert self._feed(db, st, [1000, 1010]) == []
        assert st.get == (1000_000000, 1010_000000, 2)
        # 800 < 1000 - 60: batch places it in its own earlier burst
        assert self._feed(db, st, [800]) == [(800, 1)]
        assert st.get == (1000_000000, 1010_000000, 2)

    def test_late_chain_reconnects_through_batch(self):
        from datarepo_spark.streaming.stateful import make_debouncer

        db = make_debouncer(gap_seconds=60)
        st = self._FakeState()
        assert self._feed(db, st, [1000, 1010]) == []
        # 930 alone is > gap before start, but chains to 990 (gap 60)
        # which reaches the burst — batch merges ALL into one burst
        assert self._feed(db, st, [930, 990]) == []
        assert st.get == (930_000000, 1010_000000, 4)
        # a later disconnected event closes the merged burst
        assert self._feed(db, st, [1200]) == [(930, 4)]
        assert st.get == (1200_000000, 1200_000000, 1)

    def test_disconnected_late_chain_closes_alone(self):
        from datarepo_spark.streaming.stateful import make_debouncer

        db = make_debouncer(gap_seconds=60)
        st = self._FakeState()
        assert self._feed(db, st, [1000]) == []
        # two late chains: {700, 750} and {850}; 850 is > gap from both
        # 750 and 1000-60=940 — batch yields bursts {700,750} and {850}
        assert self._feed(db, st, [700, 750, 850]) == [(700, 2), (850, 1)]
        assert st.get == (1000_000000, 1000_000000, 1)


class TestStatefulEwma:
    """Streaming twin of the batch events_ewma query: for in-order
    arrival (the time-sliced file stream), every emitted per-event EWMA
    must be bit-identical to the batch windowed fold."""

    def test_matches_batch_per_event(self, spark, events_dir, sf_dir):
        from datarepo_spark.streaming.stateful import stateful_ewma

        stream = SE.read_events_stream(
            spark, events_dir, max_files_per_trigger=1
        )
        result = stateful_ewma(stream, horizon=16, decay=0.8)
        assert result.isStreaming
        got = SE.run_stream_to_memory(
            result, "stateful_ewma", output_mode="append"
        )
        emitted = {r.event_id: (r.user_id, r.ewma) for r in got.collect()}

        batch = {
            r.event_id: (r.user_id, r.ewma)
            for r in REGISTRY["events_ewma"]
            .spark_fn(spark, sf_dir)
            .collect()
        }
        assert len(emitted) == len(batch)  # one row per event, no dups
        assert emitted == batch  # bit-identical doubles


class TestStreamShufflePartitionPin:
    def test_restores_on_error(self, spark):
        """The stream-scoped shuffle-partition pin must restore the
        caller's conf even when the stream body raises."""
        from datarepo_spark.queries.sources import (
            _stream_shuffle_partitions,
        )

        key = "spark.sql.shuffle.partitions"
        before = spark.conf.get(key)
        try:
            with _stream_shuffle_partitions(spark):
                inside = spark.conf.get(key)
                raise RuntimeError("boom")
        except RuntimeError:
            pass
        assert spark.conf.get(key) == before
        assert inside == str(
            max(spark.sparkContext.defaultParallelism, 8)
        )
