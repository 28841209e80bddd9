"""The schema-aware parquet reader (``sources.tables.read_parquet``):
Spark's schema inference runs at most once per file set and conf, and
bucketed tables read with the schema their commit recorded.  Jobs are
counted from Spark's status tracker, never timed."""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import sys
import threading
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
from conftest import SF_SMOKE

from dataframe_expressions_spark.sources.mergetable import (
    commit_bucketed,
    commit_meta,
    feed_since,
    merge_into_bucketed,
    read_bucketed,
)
from dataframe_expressions_spark.sources import tables
from dataframe_expressions_spark.sources.tables import load_table, read_parquet


@contextlib.contextmanager
def jobs(spark):
    """Collect the stage names of every job started inside the block,
    one list per job."""
    sc = spark.sparkContext
    group = f"reader-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    out: list = []
    try:
        yield out
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        st = sc.statusTracker()
        for j in sorted(st.getJobIdsForGroup(group)):
            info = st.getJobInfo(j)
            out.append([
                st.getStageInfo(s).name
                for s in (info.stageIds if info else ())
                if st.getStageInfo(s)
            ])


def _inference_jobs(job_stages) -> int:
    return sum(
        1 for stages in job_stages
        if any(n.startswith("parquet at") for n in stages)
    )


def test_load_table_infers_once_per_file(spark, tmp_path):
    shutil.copy(os.path.join(SF_SMOKE, "orders.parquet"), tmp_path)
    with jobs(spark) as first:
        a = load_table(spark, str(tmp_path), "orders")
    with jobs(spark) as second:
        b = load_table(spark, str(tmp_path), "orders")
    assert len(first) == 1 and len(second) == 0, (first, second)
    assert a.schema == b.schema
    assert a.count() == b.count() > 0


def test_rewritten_path_infers_the_new_schema(spark, tmp_path):
    path = str(tmp_path / "p")
    spark.range(3).write.parquet(path)
    assert read_parquet(spark, path).columns == ["id"]
    shutil.rmtree(path)
    spark.range(3).selectExpr("id", "cast(id as string) AS s").write.parquet(
        path
    )
    with jobs(spark) as again:
        df = read_parquet(spark, path)
    assert len(again) == 1
    assert df.columns == ["id", "s"]
    assert sorted(r.s for r in df.collect()) == ["0", "1", "2"]


def test_schema_conf_change_infers_again(spark, tmp_path):
    # written without Spark's schema metadata, so the conf decides
    path = str(tmp_path / "bin.parquet")
    pq.write_table(pa.table({"b": pa.array([b"x"], pa.binary())}), path)
    key = "spark.sql.parquet.binaryAsString"
    old = spark.conf.get(key)
    assert read_parquet(spark, path).schema["b"].dataType.typeName() == (
        "binary"
    )
    try:
        spark.conf.set(key, "true")
        with jobs(spark) as again:
            df = read_parquet(spark, path)
        assert len(again) == 1
        assert df.schema["b"].dataType.typeName() == "string"
        assert df.first().b == "x"
    finally:
        spark.conf.set(key, old)
    with jobs(spark) as back:
        assert read_parquet(spark, path).schema["b"].dataType.typeName() == (
            "binary"
        )
    assert len(back) == 0  # the first entry is still memoized


def test_memo_is_bounded_and_thread_safe(spark, tmp_path, monkeypatch):
    monkeypatch.setattr(tables, "_SCHEMA_MEMO_SIZE", 2)
    paths = []
    for i in range(3):
        p = str(tmp_path / f"p{i}")
        spark.range(1).selectExpr(
            *[f"id AS c{j}" for j in range(i + 1)]
        ).write.parquet(p)
        paths.append(p)
    wrong: list = []

    def reader():
        try:
            for _ in range(2):
                for i, p in enumerate(paths):  # 3 sets through 2 slots
                    if len(read_parquet(spark, p).columns) != i + 1:
                        wrong.append(p)
        except Exception as e:  # reported by the assertion below
            wrong.append(e)

    threads = [threading.Thread(target=reader) for _ in range(6)]
    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=300)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert wrong == []
    assert len(tables._schema_memo) <= 2


def _table(spark, root, *extra):
    df = spark.range(64).selectExpr(
        "id AS k",
        "cast(id * 1.25 AS decimal(12,2)) AS x",
        "array(named_struct('a', id, 'b', cast(id AS string))) AS arr",
        "cast(timestamp_seconds(id) AS timestamp_ntz) AS ts",
        *extra,
    )
    commit_bucketed(df, root, 0, on="k", n_buckets=4, hashed=False)
    return df


def test_bucketed_ops_fire_no_schema_job(spark, tmp_path):
    root = str(tmp_path / "tbl")
    _table(spark, root)
    src = spark.createDataFrame([(1, 1.0), (100, 2.0)], "k long, d double")
    src = src.selectExpr("k", "cast(d AS decimal(12,2)) AS d")
    with jobs(spark) as merge:
        v = merge_into_bucketed(
            spark, root, src, {"x": "t.x + s.d"}, {"x": "s.d"}
        )
    with jobs(spark) as build:
        reads = [
            read_bucketed(spark, root),
            read_bucketed(spark, root, 0),
            feed_since(spark, root, 0),
        ]
    assert v == 1
    assert _inference_jobs(merge) == 0, merge
    assert build == [], build
    latest, v0, feed = (r.collect() for r in reads)
    assert len(latest) == 65 and len(v0) == 64
    assert sorted((r.k, r.change_type) for r in feed) == [
        (1, "update_postimage"), (1, "update_preimage"), (100, "insert"),
    ]


def test_recorded_schema_is_the_readers_schema(spark, tmp_path):
    root = str(tmp_path / "tbl")
    _table(spark, root, "map('m', named_struct('a', id)) AS mp")
    meta = commit_meta(root, 0)
    dirs = [os.path.join(root, rel) for rel in meta["manifest"].values()]
    recorded = meta["bucket"]["schema"]
    assert recorded == spark.read.parquet(*dirs).schema.jsonValue()
    assert read_bucketed(spark, root).schema.jsonValue() == recorded


def test_marker_without_schema_still_reads(spark, tmp_path):
    root = str(tmp_path / "tbl")
    df = _table(spark, root)
    marker = os.path.join(root, "_commits", "0")
    with open(marker) as fh:
        doc = json.load(fh)
    del doc["bucket"]["schema"]
    with open(marker, "w") as fh:
        json.dump(doc, fh)
    want = sorted(r.k for r in df.collect())
    assert sorted(r.k for r in read_bucketed(spark, root).collect()) == want
    assert read_bucketed(spark, root, key_equals={"k": 5}).first().k == 5
    src = spark.createDataFrame([(200, 1.0)], "k long, d double").selectExpr(
        "k", "cast(d AS decimal(12,2)) AS d"
    )
    merge_into_bucketed(spark, root, src, {"x": "s.d"}, {"x": "s.d"})
    got = sorted(r.k for r in read_bucketed(spark, root).collect())
    assert got == want + [200]
    assert [r.k for r in feed_since(spark, root, 0).collect()] == [200]
