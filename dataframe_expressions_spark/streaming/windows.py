"""Structured Streaming operators over the events table.

File-source micro-batches with ``Trigger.AvailableNow`` (SURVEY.md §7 M7):
each helper builds a ``readStream`` pipeline, runs it to a memory sink,
and returns the result as a batch DataFrame so the driver/oracle harness
can hash it like any other query.

Scale notes: the same pipelines run unchanged against Kafka/files on a
cluster — watermarks bound state, session/tumbling aggregations keep
per-key state in the state store, and ``AvailableNow`` is the standard
backfill trigger (process everything available, then stop).
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame as SDF
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

__all__ = ["stream_events", "run_to_memory"]


def _staged_dir(sf_dir: str) -> str:
    """The streaming file source requires a directory; stage the single
    events.parquet into a write-once store keyed by the events
    fingerprint (the driver regenerates testdata between rounds — a
    stale staged copy must never be served)."""
    import os
    import shutil

    from ..sources.tables import publish_store, store_path

    def write(tmp: str) -> None:
        os.makedirs(tmp, exist_ok=True)
        shutil.copy(f"{sf_dir}/events.parquet", tmp)

    return publish_store(store_path(sf_dir, "stream_src", ("events",)), write)


def stream_events(spark: SparkSession, sf_dir: str) -> SDF:
    """events.parquet as a file-source stream (same vintage-tolerant ts
    normalization as the batch loader — see sources.tables.normalize_event_ts).

    Event time is cast to TIMESTAMP (LTZ): Spark's watermark machinery
    rejects TIMESTAMP_NTZ (`EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE`).  The
    session timezone is pinned UTC (session.py), so the LTZ instant
    equals the normalized naive-UTC wall clock bit-for-bit."""
    from ..sources.tables import ensure_nanos_conf, normalize_event_ts

    ensure_nanos_conf(spark)
    src = _staged_dir(sf_dir)
    schema = spark.read.parquet(src).schema  # whatever vintage is staged
    sdf = spark.readStream.schema(schema).parquet(src)
    return normalize_event_ts(sdf).withColumn("ts", F.col("ts").cast("timestamp"))


def run_to_memory(df: SDF, mode: str, shuffle_partitions: int | None = 8) -> SDF:
    """Execute a streaming DataFrame with Trigger.AvailableNow into a
    uniquely-named memory sink; return the sink contents.

    ``shuffle_partitions`` is pinned at checkpoint creation and sets the
    state-store shard count.  8 fits the local test volumes (32 shards
    paid ~4× fixed commit/Python-worker overhead per micro-batch for the
    same data); a production job sizes it to keys × state per executor
    and CANNOT change it after the first checkpoint — pick deliberately.

    The checkpoint lands on tmpfs (``/dev/shm``) when available: every
    micro-batch commit fsyncs offset/commit logs, and on the disk-backed
    default tmpdir that fsync is ~10% of a small batch's wall clock.
    (Production equivalent: fast cluster-local checkpoint volumes or
    object-store writers with async commit.)  Removed after the query
    terminates — AvailableNow over a bounded source has nothing to
    resume.
    """
    import os
    import shutil

    spark = df.sparkSession
    name = "mem_" + uuid.uuid4().hex[:12]
    ckpt_base = "/dev/shm" if os.path.isdir("/dev/shm") else None
    ckpt = f"{ckpt_base}/spark_graft_ckpt_{name}" if ckpt_base else None
    before = spark.conf.get("spark.sql.shuffle.partitions")
    if shuffle_partitions is not None:
        spark.conf.set("spark.sql.shuffle.partitions", str(shuffle_partitions))
    try:
        w = (
            df.writeStream.format("memory")
            .queryName(name)
            .outputMode(mode)
            .trigger(availableNow=True)
        )
        if ckpt:
            w = w.option("checkpointLocation", ckpt)
        q = w.start()
        q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", before)
        if ckpt:
            shutil.rmtree(ckpt, ignore_errors=True)
    # the resolved frame keeps the sink's plan; the catalog entry is only
    # the lookup handle, so drop it rather than let every call grow the
    # session catalog
    out = spark.table(name)
    spark.catalog.dropTempView(name)
    return out


def stateful_running_count(spark: SparkSession, sf_dir: str) -> SDF:
    """Custom stateful operator via applyInPandasWithState: per-user
    running event count kept in the state store, emitted each micro-batch.

    Scale: state is one long per user partitioned by the grouping key —
    the state store shards with the shuffle, and RocksDB-backed state
    handles key counts far beyond memory on a real cluster.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import LongType, StructField, StructType
    from typing import Iterator

    import pandas as pd

    out_schema = StructType(
        [StructField("user_id", LongType()), StructField("n", LongType())]
    )
    state_schema = StructType([StructField("n", LongType())])

    def update(
        key: tuple, pdfs: "Iterator[pd.DataFrame]", state: GroupState
    ) -> "Iterator[pd.DataFrame]":
        n = state.get[0] if state.exists else 0
        for pdf in pdfs:
            n += len(pdf)
        state.update((n,))
        yield pd.DataFrame({"user_id": [key[0]], "n": [n]})

    ev = stream_events(spark, sf_dir)
    counted = ev.groupBy("user_id").applyInPandasWithState(
        update, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )
    return run_to_memory(counted, "update")


def make_tws_user_summary() -> tuple:
    """Build the transformWithStateInPandas processor + output schema for
    ``tws_user_summary``, at module level so the TWS branch's processor
    logic (ValueState tuple shapes in particular — the r4 advisor's
    concern) is unit-testable even where the protobuf state server
    can't run: tests/test_streaming_tws.py drives handleInputRows
    against a fake handle, and a skipif-protobuf test runs the real
    branch on equipped hosts."""
    from typing import Iterator

    import pandas as pd

    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    out_schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("n", LongType()),
            StructField("vmin", DoubleType()),
            StructField("vmax", DoubleType()),
        ]
    )

    class UserSummary(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._agg = handle.getValueState(
                "agg", "n BIGINT, vmin DOUBLE, vmax DOUBLE"
            )

        def handleInputRows(
            self, key, rows: "Iterator[pd.DataFrame]", timer_values
        ) -> "Iterator[pd.DataFrame]":
            if self._agg.exists():
                n, vmin, vmax = self._agg.get()
            else:
                n, vmin, vmax = 0, None, None
            for pdf in rows:
                n += len(pdf)
                lo, hi = pdf["value"].min(), pdf["value"].max()
                vmin = float(lo) if vmin is None else min(vmin, float(lo))
                vmax = float(hi) if vmax is None else max(vmax, float(hi))
            self._agg.update((n, vmin, vmax))
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "n": [n],
                    "vmin": [vmin],
                    "vmax": [vmax],
                }
            )

        def close(self) -> None:
            pass

    return UserSummary, out_schema


def tws_user_summary(spark: SparkSession, sf_dir: str) -> SDF:
    """Custom stateful operator via Spark 4's transformWithStateInPandas
    (the successor to applyInPandasWithState): per-user (count, min, max)
    summary kept in a ValueState, emitted each micro-batch.

    ENVIRONMENT GATE (same class as the multimodal codec stub): the TWS
    Python worker speaks a protobuf state-server protocol
    (pyspark/sql/streaming/proto/StateMessage_pb2) and this container has
    no ``google.protobuf`` (no pip allowed).  When protobuf is absent the
    SAME summary runs through applyInPandasWithState/GroupState —
    identical semantics, output, and state sharding; the TWS path below
    is real code that runs wherever protobuf exists.

    Scale: same sharding story as the GroupState twin (state partitions
    with the grouping-key shuffle), but the new API runs ONLY on the
    RocksDB state store — which is the 100 TB answer anyway: state
    spills to local SST files instead of executor heap, and changelog
    checkpointing ships deltas, not snapshots.  The provider conf is
    scoped to this query and restored after.
    """
    import importlib.util

    UserSummary, out_schema = make_tws_user_summary()

    try:
        # find_spec raises (not returns None) when the 'google' namespace
        # package itself is absent
        has_protobuf = importlib.util.find_spec("google.protobuf") is not None
    except ModuleNotFoundError:
        has_protobuf = False
    if not has_protobuf:
        return _tws_fallback_summary(spark, sf_dir)

    provider_key = "spark.sql.streaming.stateStore.providerClass"
    rocksdb = (
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider"
    )
    before = spark.conf.get(provider_key, None)
    spark.conf.set(provider_key, rocksdb)
    try:
        ev = stream_events(spark, sf_dir).select("user_id", "value")
        summarized = ev.groupBy("user_id").transformWithStateInPandas(
            statefulProcessor=UserSummary(),
            outputStructType=out_schema,
            outputMode="Update",
            timeMode="None",
        )
        return run_to_memory(summarized, "update")
    finally:
        if before is None:
            spark.conf.unset(provider_key)
        else:
            spark.conf.set(provider_key, before)


def _tws_fallback_summary(spark: SparkSession, sf_dir: str) -> SDF:
    """GroupState twin of tws_user_summary (see its ENVIRONMENT GATE
    note): identical per-user (count, min, max) summary semantics on the
    older arbitrary-stateful API, for containers without protobuf."""
    from typing import Iterator

    import pandas as pd

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    out_schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("n", LongType()),
            StructField("vmin", DoubleType()),
            StructField("vmax", DoubleType()),
        ]
    )
    state_schema = StructType(
        [
            StructField("n", LongType()),
            StructField("vmin", DoubleType()),
            StructField("vmax", DoubleType()),
        ]
    )

    def update(
        key: tuple, pdfs: "Iterator[pd.DataFrame]", state: GroupState
    ) -> "Iterator[pd.DataFrame]":
        if state.exists:
            n, vmin, vmax = state.get
        else:
            n, vmin, vmax = 0, None, None
        for pdf in pdfs:
            n += len(pdf)
            lo, hi = pdf["value"].min(), pdf["value"].max()
            vmin = float(lo) if vmin is None else min(vmin, float(lo))
            vmax = float(hi) if vmax is None else max(vmax, float(hi))
        state.update((n, vmin, vmax))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n": [n], "vmin": [vmin], "vmax": [vmax]}
        )

    ev = stream_events(spark, sf_dir).select("user_id", "value")
    summarized = ev.groupBy("user_id").applyInPandasWithState(
        update, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )
    return run_to_memory(summarized, "update")
