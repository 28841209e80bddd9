"""The write-once derived-store primitive (sources.tables ``store_path`` /
``publish_store``): naming, the stale-sibling sweep, build-once publish,
the lost rename race, and the staged stream source landing under
``SPARK_GRAFT_STORE_ROOT``.  Also the memory-sink view hygiene of
``streaming.windows.run_to_memory``."""

from __future__ import annotations

import glob
import os
import subprocess
import sys

import pytest

from conftest import SF_SMOKE

from dataframe_expressions_spark.sources.tables import (
    publish_store,
    source_fingerprint,
    store_path,
)


@pytest.fixture
def sf_dir(tmp_path, monkeypatch):
    """A source dir holding one table file (the fingerprint only stats
    it), with the store root pointed at a fresh dir."""
    d = tmp_path / "sfx"
    d.mkdir()
    (d / "events.parquet").write_bytes(b"v1")
    monkeypatch.setenv("SPARK_GRAFT_STORE_ROOT", str(tmp_path / "store"))
    (tmp_path / "store").mkdir()
    return str(d)


def _write(calls):
    def write(tmp):
        calls.append(tmp)
        os.makedirs(tmp)
        with open(os.path.join(tmp, "part"), "w") as fh:
            fh.write("built")

    return write


def _dead_pid() -> int:
    p = subprocess.Popen([sys.executable, "-c", "pass"])
    p.wait()
    return p.pid


def test_store_path_names_and_sweeps_stale_sibling(sf_dir, tmp_path):
    root = tmp_path / "store"
    fp = source_fingerprint(sf_dir, ("events",))
    stale = root / "spark_graft_unit_v1_sfx_0000000000"
    other = root / "spark_graft_unit_v2_sfx_0000000000"  # another stem
    stale.mkdir()
    other.mkdir()
    out = store_path(sf_dir, "unit_v1", ("events",))
    assert out == f"{root}/spark_graft_unit_v1_sfx_{fp}"
    assert not stale.exists()
    assert other.exists()
    publish_store(out, _write([]))
    assert store_path(sf_dir, "unit_v1", ("events",)) == out
    assert os.path.isdir(out)


def test_regenerated_source_gets_a_new_store(sf_dir):
    old = publish_store(store_path(sf_dir, "unit_v1", ("events",)), _write([]))
    with open(os.path.join(sf_dir, "events.parquet"), "wb") as fh:
        fh.write(b"v2 regenerated")
    new = store_path(sf_dir, "unit_v1", ("events",))
    assert new != old
    assert not os.path.exists(old)


def test_publish_store_builds_once(sf_dir):
    calls = []
    out = store_path(sf_dir, "unit_v1", ("events",))
    assert publish_store(out, _write(calls)) == out
    assert publish_store(out, _write(calls)) == out
    assert len(calls) == 1
    assert calls[0] == f"{out}.tmp{os.getpid()}"
    assert not glob.glob(f"{out}.tmp*")


def test_sweep_keeps_live_pid_build_and_drops_dead_one(sf_dir):
    out = store_path(sf_dir, "unit_v1", ("events",))
    dead = f"{out}.tmp{_dead_pid()}"
    live = f"{out}.tmp{os.getpid()}"
    os.makedirs(dead)
    os.makedirs(live)
    assert store_path(sf_dir, "unit_v1", ("events",)) == out
    assert not os.path.exists(dead)
    assert os.path.exists(live)


def test_lost_rename_race_leaves_no_temp(sf_dir):
    out = store_path(sf_dir, "unit_v1", ("events",))

    def rival_publishes_first(tmp):
        _write([])(tmp)
        os.makedirs(out)
        with open(os.path.join(out, "part"), "w") as fh:
            fh.write("rival")

    assert publish_store(out, rival_publishes_first) == out
    assert not glob.glob(f"{out}.tmp*")
    with open(os.path.join(out, "part")) as fh:
        assert fh.read() == "rival"


def test_streaming_stage_lands_under_store_root(spark, tmp_path, monkeypatch):
    from dataframe_expressions_spark.operators.registry import load_all

    monkeypatch.setenv("SPARK_GRAFT_STORE_ROOT", str(tmp_path))
    before = set(glob.glob("/tmp/spark_stream_src_*"))
    rows = load_all()["stream_dsl_filter"].fn(spark, SF_SMOKE).count()
    assert rows > 0
    staged = list(tmp_path.glob("spark_graft_stream_src_*"))
    assert len(staged) == 1, list(tmp_path.iterdir())
    assert os.listdir(staged[0]) == ["events.parquet"]
    assert set(glob.glob("/tmp/spark_stream_src_*")) <= before


def test_run_to_memory_leaves_no_sink_view(spark):
    from oracle_check import compare_frames, duck_con

    from dataframe_expressions_spark.operators.registry import load_all

    q = load_all()["stream_dsl_filter"]
    df = q.fn(spark, SF_SMOKE)
    assert not [t.name for t in spark.catalog.listTables()
                if t.name.startswith("mem_")]
    pdf = df.toPandas()
    con = duck_con(SF_SMOKE)
    try:
        err = compare_frames(pdf, con.execute(q.oracle).fetchdf())
    finally:
        con.close()
    assert err is None, err
    # the frame still filters and aggregates after its view is gone
    assert df.where("value > 75").count() == int((pdf.value > 75).sum())
    assert df.groupBy().count().first()[0] == len(pdf)


def test_scan_xml_round_trips_under_store_root(spark, tmp_path, monkeypatch):
    from dataframe_expressions_spark.operators.registry import load_all

    monkeypatch.setenv("SPARK_GRAFT_STORE_ROOT", str(tmp_path))
    before = set(glob.glob("/tmp/spark_graft_xml_*"))
    assert load_all()["scan_xml"].fn(spark, SF_SMOKE).count() > 0
    assert [p.name for p in tmp_path.glob("spark_graft_xml_*")] == [
        f"spark_graft_xml_{os.path.basename(SF_SMOKE.rstrip('/'))}"
    ]
    assert set(glob.glob("/tmp/spark_graft_xml_*")) <= before


def test_stream_writers_stage_six_files_per_writer(spark, tmp_path,
                                                   monkeypatch):
    """Each writer's staged events are 6 parquet files, so with
    maxFilesPerTrigger=2 it commits 3 batches (batch ids 0-2)."""
    from dataframe_expressions_spark.operators.registry import load_all
    from dataframe_expressions_spark.sources.mergetable import (
        commit_meta,
        committed_versions,
    )

    monkeypatch.setenv("SPARK_GRAFT_STORE_ROOT", str(tmp_path))
    assert load_all()["stream_writers_concurrent"].fn(
        spark, SF_SMOKE).count() > 0
    for tag in ("even", "odd"):
        (stage,) = tmp_path.glob(f"spark_graft_dualstage_v1_{tag}_*")
        parts = [p for p in os.listdir(stage) if p.startswith("part-")]
        assert len(parts) == 6, parts
    (root,) = tmp_path.glob("spark_graft_table_streamdual_v1_*")
    metas = [commit_meta(str(root), n) for n in committed_versions(str(root))]
    batches = sorted((m["writer"], m["batch_id"]) for m in metas
                     if "writer" in m)
    assert batches == [(w, b) for w in ("even", "odd") for b in range(3)]
