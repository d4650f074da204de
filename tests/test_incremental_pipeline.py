"""End-to-end incremental pipeline: stream → Delta → change feed → IVM.

The components are proven separately (streaming exactly-once sink,
change stream, incremental aggregate); this ties them into the full
production loop a 100 TB event pipeline runs continuously:

  file stream → foreachBatch write_delta(txn per epoch)   [ingestion]
      → DeltaChangeStream                                 [change feed]
      → IncrementalAggregate.advance()                    [materialized view]

and asserts the maintained view equals a from-scratch GROUP BY of the
source at every stage — including after a crash-replayed micro-batch
and a DV delete against the ingested table."""

import os

import pytest
from pyspark.sql import functions as F

from datarepo_spark.core.filters import Filter
from datarepo_spark.streaming import events as SE
from datarepo_spark.tables.delta_table import DeltalakeTable
from datarepo_spark.tables.delta_writer import delete_delta, write_delta
from datarepo_spark.tables.ivm import IncrementalAggregate


@pytest.fixture()
def events_stream_dir(tmp_path, spark, sf_dir):
    import pyarrow.parquet as pq

    table = pq.read_table(os.path.join(sf_dir, "events.parquet"))
    out = str(tmp_path / "stream_src")
    os.makedirs(out)
    n = table.num_rows
    step = n // 4 + 1
    for i, lo in enumerate(range(0, n, step)):
        pq.write_table(
            table.slice(lo, step), os.path.join(out, f"part{i}.parquet")
        )
    return out


def _view_rows(spark, agg):
    return sorted(
        (r.event_type, r.n_rows, str(r.sum_value), r.min_value,
         r.max_value)
        for r in agg.read(spark).collect()
    )


def _batch_rows(spark, delta_uri):
    src = DeltalakeTable("ing", delta_uri)(spark=spark)
    rows = (
        src.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.col("value").cast("decimal(38,6)")).alias("sum_value"),
            F.min("value").alias("min_value"),
            F.max("value").alias("max_value"),
        )
        .collect()
    )
    return sorted(
        (r.event_type, r.n_rows, str(r.sum_value), r.min_value,
         r.max_value)
        for r in rows
    )


def test_stream_to_delta_to_ivm_full_loop(
    spark, tmp_path, events_stream_dir
):
    delta_uri = str(tmp_path / "ingested")
    seen_epochs = []

    def sink(batch_df, epoch_id):
        seen_epochs.append(epoch_id)
        write_delta(
            batch_df.select("event_id", "ts", "event_type", "value"),
            delta_uri,
            txn_app_id="ingest-q",
            txn_version=int(epoch_id),
        )
        if epoch_id == 1:
            # crash-replay the micro-batch: the ledger must swallow it
            write_delta(
                batch_df.select(
                    "event_id", "ts", "event_type", "value"
                ),
                delta_uri,
                txn_app_id="ingest-q",
                txn_version=int(epoch_id),
            )

    stream = SE.read_events_stream(
        spark, events_stream_dir, max_files_per_trigger=1
    )
    q = (
        stream.writeStream.foreachBatch(sink)
        .option(
            "checkpointLocation", str(tmp_path / "ckpt")
        )
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert len(seen_epochs) >= 3  # several micro-batches landed

    agg = IncrementalAggregate(
        delta_uri,
        str(tmp_path / "view"),
        str(tmp_path / "cursor.json"),
        group_cols=["event_type"],
        sum_cols=["value"],
        minmax_cols=["value"],
    )
    # catch up over every ingested commit (possibly several polls)
    while agg.advance(spark) is not None:
        pass
    assert _view_rows(spark, agg) == _batch_rows(spark, delta_uri)

    # late correction: a DV delete against the ingested table flows
    # through the change feed into the view, including min/max
    # re-derivation for the affected groups
    top = (
        DeltalakeTable("ing", delta_uri)(spark=spark)
        .orderBy(F.desc("value"))
        .head()
    )
    delete_delta(
        spark, delta_uri, [Filter("value", ">=", float(top.value))]
    )
    while agg.advance(spark) is not None:
        pass
    assert _view_rows(spark, agg) == _batch_rows(spark, delta_uri)
