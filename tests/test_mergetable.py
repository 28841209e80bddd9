"""Copy-on-write table format (sources/mergetable.py, round 10): commit
protocol, time travel, crash invisibility, and MERGE INTO clause
semantics."""

from __future__ import annotations

import contextlib
import os

import pytest
from conftest import SF_SMOKE

from dataframe_expressions_spark.sources.mergetable import (
    commit_snapshot,
    latest_version,
    merge_into,
    read_version,
)


def test_commit_read_time_travel_and_crash_invisibility(spark, tmp_path):
    root = str(tmp_path / "tbl")
    assert latest_version(root) is None
    v0 = spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
    commit_snapshot(v0, root, 0)
    assert latest_version(root) == 0

    v1 = spark.createDataFrame([(1, "a2"), (3, "c")], "k long, v string")
    commit_snapshot(v1, root, 1)
    assert latest_version(root) == 1
    got1 = {r.k: r.v for r in read_version(spark, root).collect()}
    assert got1 == {1: "a2", 3: "c"}
    # TIME TRAVEL: v0 is immutable and still readable after the v1 commit
    got0 = {r.k: r.v for r in read_version(spark, root, 0).collect()}
    assert got0 == {1: "a", 2: "b"}

    # CRASH INVISIBILITY: a snapshot dir without its marker never
    # resolves (simulates a writer that died between steps 1 and 2)...
    v2 = spark.createDataFrame([(9, "x")], "k long, v string")
    v2.write.parquet(os.path.join(root, "v2"))
    assert latest_version(root) == 1
    with pytest.raises(FileNotFoundError, match="not committed"):
        read_version(spark, root, 2)
    # ...and a marker whose snapshot vanished doesn't either
    open(os.path.join(root, "_commits", "5"), "w").write("{}")
    assert latest_version(root) == 1

    # re-commit of an existing version is a no-op (idempotent retry)
    commit_snapshot(v0, root, 1)
    assert {r.k: r.v for r in read_version(spark, root, 1).collect()} == got1


def test_merge_into_clause_semantics(spark):
    """The three MERGE paths — matched update, target-only passthrough,
    source-only insert — plus: unlisted matched columns keep the target
    value, unlisted insert columns are NULL, and NULL keys pair
    null-safely (a window PARTITION BY would group them; so must the
    merge join)."""
    tgt = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (None, "n", 5.0)],
        "k long, name string, bal double",
    )
    src = spark.createDataFrame(
        [(1, 100.0), (7, 700.0), (None, 50.0)], "k long, delta double"
    )
    out = merge_into(
        tgt,
        src,
        on="k",
        matched_update={"bal": "t.bal + s.delta"},
        not_matched_insert={"bal": "s.delta"},
    )
    assert out.columns == tgt.columns
    got = {r.k: (r.name, r.bal) for r in out.collect()}
    assert got[1] == ("a", 110.0)      # matched: bal updated, name kept
    assert got[2] == ("b", 20.0)       # target-only: untouched
    assert got[7] == (None, 700.0)     # insert: unlisted name -> NULL
    assert got[None] == ("n", 55.0)    # NULL key matches null-safely
    assert len(got) == 4


def test_table_merge_upsert_is_write_once_and_plan_shape(spark):
    """The registered query: second call serves the committed snapshot
    (no re-merge — its plan is a bare parquet scan of v1), and the
    first-build merge plan is ONE full-outer join, no cartesian."""
    from dataframe_expressions_spark.operators.registry import load_all
    from dataframe_expressions_spark.operators.tier8 import _merge_table_root

    q = load_all()["table_merge_upsert"]
    df1 = q.fn(spark, SF_SMOKE)
    n1 = df1.count()
    assert n1 > 0
    root = _merge_table_root(SF_SMOKE)
    # >= 1: table_merge_evolve may have committed v2 on the shared root
    # (the upsert query reads version 1 EXPLICITLY either way)
    assert latest_version(root) >= 1
    mtime = os.path.getmtime(os.path.join(root, "_commits", "1"))
    df2 = q.fn(spark, SF_SMOKE)
    assert df2.count() == n1
    assert os.path.getmtime(os.path.join(root, "_commits", "1")) == mtime
    plan = df2._jdf.queryExecution().executedPlan().toString()
    assert "FileScan parquet" in plan
    assert "Join" not in plan  # read-back is a scan, not a re-merge


def test_failed_snapshot_rename_never_commits(spark, tmp_path, monkeypatch):
    """Round-10 review: a REAL rename failure (not a lost race) must
    surface and must NOT write the marker — a marker may never point at
    a missing snapshot."""
    import os as _os

    root = str(tmp_path / "tbl")
    v0 = spark.createDataFrame([(1, "a")], "k long, v string")
    commit_snapshot(v0, root, 0)

    real_rename = _os.rename

    def failing_rename(src, dst):
        if "/v1" in dst.replace("\\", "/"):
            raise OSError("simulated EXDEV")
        return real_rename(src, dst)

    monkeypatch.setattr(_os, "rename", failing_rename)
    with pytest.raises(OSError, match="EXDEV"):
        commit_snapshot(v0, root, 1)
    monkeypatch.setattr(_os, "rename", real_rename)
    assert latest_version(root) == 0
    assert not os.path.exists(os.path.join(root, "_commits", "1"))


from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

_keys = st.lists(
    st.one_of(st.integers(min_value=0, max_value=6), st.none()),
    min_size=0, max_size=6, unique=True,
)


@pytest.mark.usefixtures("spark")
@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(_keys, _keys)
def test_merge_into_matches_python_reference(spark, t_keys, s_keys):
    """Brute-force reference (per-op ritual): merge_into over arbitrary
    overlapping / disjoint / NULL-containing key sets must equal the
    dict-based MERGE a Python loop computes — matched update, target
    passthrough, insert, null-safe key pairing, exact row count."""
    import pandas as pd

    tgt_rows = [(k, f"n{k}", float(10 * (i + 1))) for i, k in enumerate(t_keys)]
    src_rows = [(k, float(100 * (i + 1))) for i, k in enumerate(s_keys)]
    tgt = spark.createDataFrame(
        pd.DataFrame(tgt_rows, columns=["k", "name", "bal"]).astype(
            {"k": "Int64"}
        ),
        "k long, name string, bal double",
    )
    src = spark.createDataFrame(
        pd.DataFrame(src_rows, columns=["k", "delta"]).astype(
            {"k": "Int64"}
        ),
        "k long, delta double",
    )
    out = merge_into(
        tgt, src, on="k",
        matched_update={"bal": "t.bal + s.delta"},
        not_matched_insert={"bal": "s.delta"},
    )
    got = sorted(
        ((r.k, r.name, r.bal) for r in out.collect()),
        key=lambda t: (t[0] is None, t[0]),
    )
    ref = {k: [f"n{k}", float(10 * (i + 1))] for i, k in enumerate(t_keys)}
    for i, k in enumerate(s_keys):
        if k in ref:
            ref[k][1] += float(100 * (i + 1))
        else:
            ref[k] = [None, float(100 * (i + 1))]
    want = sorted(
        ((k, v[0], v[1]) for k, v in ref.items()),
        key=lambda t: (t[0] is None, t[0]),
    )
    assert got == want


def test_vacuum_retention_and_orphan_sweep(spark, tmp_path):
    """vacuum keeps the newest `keep` committed versions, deletes marker
    BEFORE snapshot (crash mid-vacuum leaves only invisible orphans),
    sweeps crashed-writer orphan dirs on the MARKER-RELATIVE horizon
    (round 11: an orphan claiming version k is swept only once a LATER
    committed version has been on the books for > 1 h — no directory
    mtimes, so the rule carries to object stores), and a time travel to
    a vacuumed version fails loudly."""
    import json as _json
    import time as _time

    from dataframe_expressions_spark.sources.mergetable import vacuum

    root = str(tmp_path / "tbl")
    for n in (0, 1, 3, 4):
        commit_snapshot(
            spark.createDataFrame([(n,)], "k long"), root, n
        )
    # crashed-writer orphan SUPERSEDED long ago: dir without marker at a
    # version number below v3, whose marker is > 1 h old (forge the
    # committed_at the writer recorded — that is the only clock vacuum
    # consults)
    os.makedirs(os.path.join(root, "v2"))
    for m in (3, 4):
        mk = os.path.join(root, "_commits", str(m))
        meta = _json.load(open(mk))
        meta["committed_at"] = _time.time() - 7200
        _json.dump(meta, open(mk, "w"))
    # a marker-less dir at a NOT-YET-SUPERSEDED version number may be a
    # concurrent commit between its snapshot rename and marker write —
    # must survive the sweep no matter how old it looks
    os.makedirs(os.path.join(root, "v8"))
    os.utime(os.path.join(root, "v8"), (0, 0))
    dropped = vacuum(root, keep=2)
    assert dropped == [0, 1]
    assert latest_version(root) == 4
    assert {r.k for r in read_version(spark, root, 3).collect()} == {3}
    assert not os.path.isdir(os.path.join(root, "v0"))
    assert not os.path.exists(os.path.join(root, "_commits", "1"))
    assert not os.path.isdir(os.path.join(root, "v2"))  # superseded orphan
    assert os.path.isdir(os.path.join(root, "v8"))  # in-flight commit kept
    # round 14: a vacuumed version fails with the CLASSIFIED error
    # (still a FileNotFoundError subclass) carrying the tombstone
    # horizon — the reader-vs-vacuum grace contract
    from dataframe_expressions_spark.sources.mergetable import (
        VersionVacuumedError,
        vacuum_horizon,
    )

    with pytest.raises(VersionVacuumedError, match="vacuum"):
        read_version(spark, root, 0)
    assert vacuum_horizon(root) == 3
    # keep >= committed count: no-op
    assert vacuum(root, keep=5) == []
    with pytest.raises(ValueError, match="keep"):
        vacuum(root, keep=0)


def test_stream_table_upsert_versions_and_replay_idempotent(spark):
    """The streaming CDC upsert: (a) the drained table keeps exactly the
    vacuum retention (2 committed versions) plus the done sentinel;
    (b) losing the done sentinel AND the checkpoint replays every batch
    with fresh ids — the marker-logged batch_id guard must skip them
    all, leaving values byte-identical (the at-least-once double-apply
    hole closed the Delta txn-version way)."""
    import glob

    from dataframe_expressions_spark.operators.registry import load_all
    from dataframe_expressions_spark.sources.tables import store_root

    q = load_all()["stream_table_upsert"]
    df1 = q.fn(spark, SF_SMOKE)
    want = sorted(tuple(r) for r in df1.collect())
    assert len(want) > 0
    roots = glob.glob(
        f"{store_root()}/spark_graft_table_streamupsert_v2_"
        f"{SF_SMOKE.rstrip('/').rsplit('/', 1)[-1]}_*"
    )
    assert len(roots) == 1, roots
    root = roots[0]
    committed = sorted(
        int(n) for n in os.listdir(os.path.join(root, "_commits"))
        if n.isdigit()
    )
    assert len(committed) == 2, committed  # vacuum keep=2
    assert latest_version(root) == committed[-1] >= 1
    assert os.path.exists(os.path.join(root, "_stream_done"))

    # replay: drop the sentinel (checkpoint already removed after drain)
    os.unlink(os.path.join(root, "_stream_done"))
    df2 = q.fn(spark, SF_SMOKE)
    got = sorted(tuple(r) for r in df2.collect())
    assert got == want
    # no new versions were committed by the replayed batches
    committed2 = sorted(
        int(n) for n in os.listdir(os.path.join(root, "_commits"))
        if n.isdigit()
    )
    assert committed2 == committed, (committed, committed2)


def test_merge_schema_evolution(spark, tmp_path):
    """evolve=True appends clause-target columns missing from the target
    (NULL where no clause sets them — pre-evolution rows included);
    strict mode raises; committing the evolved result is the
    copy-on-write ADD COLUMN — time travel across the schema boundary
    reads each version with its own schema."""
    from dataframe_expressions_spark.sources.mergetable import (
        commit_snapshot,
        read_version,
    )

    tgt = spark.createDataFrame([(1, 10.0), (2, 20.0)], "k long, bal double")
    src = spark.createDataFrame(
        [(1, 5.0, "eu"), (3, 7.0, "us")], "k long, delta double, region string"
    )
    with pytest.raises(ValueError, match="evolve=True"):
        merge_into(
            tgt, src, on="k",
            matched_update={"bal": "t.bal + s.delta", "region": "s.region"},
            not_matched_insert={"bal": "s.delta", "region": "s.region"},
        )
    out = merge_into(
        tgt, src, on="k",
        matched_update={"bal": "t.bal + s.delta", "region": "s.region"},
        not_matched_insert={"bal": "s.delta", "region": "s.region"},
        evolve=True,
    )
    assert out.columns == ["k", "bal", "region"]
    got = {r.k: (r.bal, r.region) for r in out.collect()}
    assert got == {1: (15.0, "eu"), 2: (20.0, None), 3: (7.0, "us")}

    root = str(tmp_path / "tbl")
    commit_snapshot(tgt, root, 0)
    commit_snapshot(out, root, 1)
    assert read_version(spark, root, 0).columns == ["k", "bal"]
    assert read_version(spark, root, 1).columns == ["k", "bal", "region"]


def test_failed_marker_rename_raises_and_retry_commits(
    spark, tmp_path, monkeypatch
):
    """Round-10 ADVICE: a REAL IO failure in the marker publish must
    re-raise like the snapshot path — returning as-if-committed
    silently drops the commit, and the orphaned v<n> dir would make the
    NEXT commit_snapshot(n) skip its snapshot write and attach ITS
    marker (and batch_id) to THIS call's data.  A retry after the
    failure succeeds normally (the orphaned dir holds the same
    version's data).  Round 14: the publish primitive is the
    CommitStore's if-absent put (``os.link`` on the local backend), so
    the simulated ENOSPC hits the link."""
    import os as _os

    root = str(tmp_path / "tbl")
    v0 = spark.createDataFrame([(1, "a")], "k long, v string")
    commit_snapshot(v0, root, 0)

    real_link = _os.link

    def failing_marker_link(src, dst, **kw):
        if "_commits" in str(dst).replace("\\", "/") and str(dst).endswith(
            os.sep + "1"
        ):
            raise OSError("simulated ENOSPC")
        return real_link(src, dst, **kw)

    monkeypatch.setattr(_os, "link", failing_marker_link)
    v1 = spark.createDataFrame([(1, "a2")], "k long, v string")
    with pytest.raises(OSError, match="ENOSPC"):
        commit_snapshot(v1, root, 1, meta={"batch_id": 7})
    monkeypatch.setattr(_os, "link", real_link)
    # not committed: no marker, no visible version, no marker temp litter
    assert latest_version(root) == 0
    assert not os.path.exists(os.path.join(root, "_commits", "1"))
    assert not any(
        n.startswith("1.")
        for n in os.listdir(os.path.join(root, "_commits"))
    )
    # retry commits the SAME data with the retry's metadata
    commit_snapshot(v1, root, 1, meta={"batch_id": 7})
    from dataframe_expressions_spark.sources.mergetable import commit_meta

    assert latest_version(root) == 1
    assert commit_meta(root, 1)["batch_id"] == 7
    assert {r.v for r in read_version(spark, root, 1).collect()} == {"a2"}


def test_merge_into_strict_source_keys_guard(spark):
    """Round-10 ADVICE: duplicate source join keys fan out matched
    target rows (SQL MERGE raises 'multiple source rows matched').
    strict_source_keys=True surfaces that before the merge join runs;
    unique sources pass the guard unchanged."""
    tgt = spark.createDataFrame([(1, 10.0)], "k long, bal double")
    dup = spark.createDataFrame(
        [(1, 1.0), (1, 2.0), (2, 3.0)], "k long, delta double"
    )
    with pytest.raises(ValueError, match="duplicate join key"):
        merge_into(
            tgt, dup, on="k",
            matched_update={"bal": "t.bal + s.delta"},
            not_matched_insert={"bal": "s.delta"},
            strict_source_keys=True,
        )
    uniq = dup.groupBy("k").agg({"delta": "sum"}).withColumnRenamed(
        "sum(delta)", "delta"
    )
    out = merge_into(
        tgt, uniq, on="k",
        matched_update={"bal": "t.bal + s.delta"},
        not_matched_insert={"bal": "s.delta"},
        strict_source_keys=True,
    )
    assert {r.k: r.bal for r in out.collect()} == {1: 13.0, 2: 3.0}


def test_merge_into_helper_columns_never_collide(spark):
    """Round-10 ADVICE: the presence-flag helper columns must survive
    inputs that already carry columns with the default helper names."""
    tgt = spark.createDataFrame(
        [(1, 10.0, "x")], "k long, bal double, _mt_t_present string"
    )
    src = spark.createDataFrame(
        [(1, 5.0, "y"), (2, 7.0, "z")],
        "k long, delta double, _mt_s_present string",
    )
    out = merge_into(
        tgt, src, on="k",
        matched_update={"bal": "t.bal + s.delta"},
        not_matched_insert={"bal": "s.delta"},
    )
    assert out.columns == tgt.columns
    got = {r.k: (r.bal, r["_mt_t_present"]) for r in out.collect()}
    # matched row updated once (no fan-out), user column passes through
    assert got == {1: (15.0, "x"), 2: (7.0, None)}


def test_vacuum_idempotent_under_concurrent_marker_unlink(
    spark, tmp_path, monkeypatch
):
    """Round-10 ADVICE: two concurrent vacuums racing on the same root —
    the loser's marker unlink hits FileNotFoundError and must continue,
    not abort partway (single-writer is documented; idempotence under
    races is the module-wide discipline)."""
    import os as _os

    from dataframe_expressions_spark.sources.mergetable import vacuum

    root = str(tmp_path / "tbl")
    for n in range(4):
        commit_snapshot(spark.createDataFrame([(n,)], "k long"), root, n)

    real_unlink = _os.unlink

    def racing_unlink(path, *a, **kw):
        p = str(path).replace("\\", "/")
        if "/_commits/" in p and os.path.exists(path):
            real_unlink(path)  # the concurrent vacuum won the race...
        return real_unlink(path, *a, **kw)  # ...raises FileNotFoundError

    monkeypatch.setattr(_os, "unlink", racing_unlink)
    dropped = vacuum(root, keep=2)
    monkeypatch.setattr(_os, "unlink", real_unlink)
    assert dropped == [0, 1]
    assert latest_version(root) == 3
    assert not os.path.isdir(os.path.join(root, "v0"))
    assert not os.path.isdir(os.path.join(root, "v1"))
    assert not os.path.exists(os.path.join(root, "_commits", "0"))


def test_ensure_merge_table_gate_survives_v2(spark, monkeypatch):
    """Round-10 ADVICE: once table_merge_evolve commits v2 on the shared
    root, `latest_version != 1` is permanently true — the gate must be
    `< 1` so later upsert/time-travel calls do NOT re-enter the build
    branch (wasted driver-side merge-plan construction every call)."""
    from dataframe_expressions_spark.operators.registry import load_all
    from dataframe_expressions_spark.operators.tier8 import (
        _ensure_merge_table,
        _merge_table_root,
    )
    from dataframe_expressions_spark.sources import mergetable as MT

    qs = load_all()
    qs["table_merge_evolve"].fn(spark, SF_SMOKE).count()  # commits v2
    assert latest_version(_merge_table_root(SF_SMOKE)) >= 2

    def boom(*a, **kw):  # the build branch calls merge_into
        raise AssertionError("build branch re-entered after v2")

    monkeypatch.setattr(MT, "merge_into", boom)
    root = _ensure_merge_table(spark, SF_SMOKE)
    assert latest_version(root) >= 2
    assert qs["table_merge_upsert"].fn(spark, SF_SMOKE).count() > 0


# ---------------------------------------------------------------------------
# bucket-scoped copy-on-write MERGE (round 11, r10 VERDICT item 1)
# ---------------------------------------------------------------------------


def _bucket_files(root, man, bucket):
    """Sorted (relpath, inode) pairs for one bucket's parquet files."""
    d = os.path.join(root, man[str(bucket)])
    return sorted(
        (os.path.join(man[str(bucket)], f), os.stat(os.path.join(d, f)).st_ino)
        for f in os.listdir(d)
        if f.endswith(".parquet")
    )


def test_bucketed_merge_rewrites_only_touched_buckets(spark, tmp_path):
    """THE bucket-COW contract: after a merge whose source keys all land
    in buckets {0,1,2} (modulo bucketing makes that constructible), the
    new version's manifest references the OLD version's physical files
    for every untouched bucket — same paths, same inodes, zero bytes
    rewritten — while touched buckets get fresh files under the new
    version dir.  Content equals the table-granularity merge_into over
    the same inputs, and time travel across the boundary still reads
    v0 exactly."""
    from dataframe_expressions_spark.sources.mergetable import (
        commit_bucketed,
        commit_meta,
        merge_into_bucketed,
        read_bucketed,
    )

    root = str(tmp_path / "tbl")
    n_b = 8
    tgt = spark.createDataFrame(
        [(k, f"n{k}", float(10 * k)) for k in range(40)],
        "k long, name string, bal double",
    )
    commit_bucketed(tgt, root, 0, on="k", n_buckets=n_b, hashed=False)
    man0 = commit_meta(root, 0)["manifest"]
    assert set(man0) == {str(b) for b in range(n_b)}
    v0_files = {b: _bucket_files(root, man0, b) for b in range(n_b)}

    # source keys: bucket(k) = k % 8 in {0, 1, 2} only — including one
    # insert key (80 -> bucket 0) outside the target key space
    src = spark.createDataFrame(
        [(0, 1.0), (9, 2.0), (18, 3.0), (80, 4.0)], "k long, delta double"
    )
    n1 = merge_into_bucketed(
        spark, root, src,
        matched_update={"bal": "t.bal + s.delta"},
        not_matched_insert={"bal": "s.delta"},
        meta={"op": "merge"},
    )
    assert n1 == 1
    meta1 = commit_meta(root, 1)
    man1 = meta1["manifest"]
    assert meta1["touched_buckets"] == ["0", "1", "2"]
    for b in range(3):  # touched: fresh files under v1
        assert man1[str(b)] == f"v1/_mt_bucket={b}"
    for b in range(3, n_b):  # untouched: BY REFERENCE — v0's own files
        assert man1[str(b)] == man0[str(b)] == f"v0/_mt_bucket={b}"
        assert _bucket_files(root, man1, b) == v0_files[b]

    # content identical to the table-granularity merge over same inputs
    from dataframe_expressions_spark.sources.mergetable import merge_into

    want = sorted(
        tuple(r)
        for r in merge_into(
            tgt, src, on="k",
            matched_update={"bal": "t.bal + s.delta"},
            not_matched_insert={"bal": "s.delta"},
        ).collect()
    )
    got = sorted(tuple(r) for r in read_bucketed(spark, root, 1).collect())
    assert got == want
    # time travel across the bucket boundary: v0 unchanged
    got0 = sorted(tuple(r) for r in read_bucketed(spark, root, 0).collect())
    assert got0 == sorted(tuple(r) for r in tgt.collect())


def test_bucketed_merge_chain_and_vacuum_keeps_referenced_buckets(
    spark, tmp_path
):
    """Chained bucket merges accumulate by-reference manifests across
    SEVERAL physical version dirs; manifest-aware vacuum of the base
    version must delete only the bucket dirs no kept manifest references
    (v0's rewritten buckets) while the still-referenced v0 buckets
    survive in place and the latest version stays fully readable."""
    from dataframe_expressions_spark.sources.mergetable import (
        commit_bucketed,
        commit_meta,
        merge_into_bucketed,
        read_bucketed,
        vacuum,
    )

    root = str(tmp_path / "tbl")
    tgt = spark.createDataFrame(
        [(k, float(k)) for k in range(24)], "k long, bal double"
    )
    commit_bucketed(tgt, root, 0, on="k", n_buckets=6, hashed=False)
    # merge 1 touches buckets {0}; merge 2 touches {1, 2}
    merge_into_bucketed(
        spark, root, spark.createDataFrame([(6, 1.0)], "k long, delta double"),
        matched_update={"bal": "t.bal + s.delta"},
        not_matched_insert={"bal": "s.delta"},
    )
    merge_into_bucketed(
        spark, root,
        spark.createDataFrame([(7, 2.0), (14, 3.0)], "k long, delta double"),
        matched_update={"bal": "t.bal + s.delta"},
        not_matched_insert={"bal": "s.delta"},
    )
    man2 = commit_meta(root, 2)["manifest"]
    assert man2["0"].startswith("v1/") and man2["1"].startswith("v2/")
    assert all(man2[str(b)].startswith("v0/") for b in (3, 4, 5))
    want = sorted(tuple(r) for r in read_bucketed(spark, root, 2).collect())

    # keep only v2 — v2 still references v0/{3,4,5} and v1/{0}
    dropped = vacuum(root, keep=1)
    assert dropped == [0, 1]
    # v0 buckets v2 superseded (0 via v1, 1-2 via v2) are gone; the
    # still-referenced ones survive IN PLACE
    for b in (0, 1, 2):
        assert not os.path.isdir(os.path.join(root, f"v0/_mt_bucket={b}"))
    for b in (3, 4, 5):
        assert os.path.isdir(os.path.join(root, f"v0/_mt_bucket={b}"))
    # dropped v1's bucket 0 is referenced by v2: dir survives, marker gone
    assert os.path.isdir(os.path.join(root, "v1/_mt_bucket=0"))
    assert not os.path.exists(os.path.join(root, "_commits", "1"))
    # the latest version reads back identically after the vacuum
    got = sorted(tuple(r) for r in read_bucketed(spark, root, 2).collect())
    assert got == want
    # and the vacuumed versions themselves are gone as versions
    from dataframe_expressions_spark.sources.mergetable import (
        VersionVacuumedError,
    )

    with pytest.raises(VersionVacuumedError, match="vacuum"):
        read_bucketed(spark, root, 0)
    with pytest.raises(VersionVacuumedError, match="vacuum"):
        read_bucketed(spark, root, 1)


def test_bucketed_guards(spark, tmp_path):
    """Non-bucketed versions reject bucketed reads/merges loudly; the
    bucket spec comes from table metadata (callers cannot supply a
    mismatched key); hashed bucketing handles multi-key and the modulo
    mode rejects multi-key."""
    from dataframe_expressions_spark.sources.mergetable import (
        bucket_expr,
        commit_bucketed,
        merge_into_bucketed,
        read_bucketed,
    )

    assert bucket_expr(["a", "b"], 4) == "pmod(hash(a, b), 4)"
    assert bucket_expr("k", 16, hashed=False) == "pmod(k, 16)"
    with pytest.raises(ValueError, match="exactly one key"):
        bucket_expr(["a", "b"], 4, hashed=False)
    with pytest.raises(ValueError, match="n_buckets"):
        bucket_expr("k", 0)

    root = str(tmp_path / "plain")
    commit_snapshot(spark.createDataFrame([(1,)], "k long"), root, 0)
    with pytest.raises(ValueError, match="not bucketed"):
        read_bucketed(spark, root, 0)
    with pytest.raises(ValueError, match="not bucketed"):
        merge_into_bucketed(
            spark, root,
            spark.createDataFrame([(1, 1.0)], "k long, d double"),
            matched_update={}, not_matched_insert={},
        )


def test_table_merge_bucketed_query_by_reference_and_write_once(spark):
    """The registered query at fixture scale: v1's manifest references
    v0's physical files for all 13 untouched buckets (same path — zero
    rewrite), touched buckets are exactly {0,1,2} (the source filter is
    the bucket function), the second call serves the committed manifest
    without re-merging, and the read-back plan is a pure parquet scan."""
    from dataframe_expressions_spark.operators.registry import load_all
    from dataframe_expressions_spark.operators.tier8 import (
        _bucketed_table_root,
    )
    from dataframe_expressions_spark.sources.mergetable import commit_meta

    q = load_all()["table_merge_bucketed"]
    df1 = q.fn(spark, SF_SMOKE)
    n1 = df1.count()
    assert n1 > 0
    root = _bucketed_table_root(SF_SMOKE)
    meta1 = commit_meta(root, 1)
    assert meta1["touched_buckets"] == ["0", "1", "2"]
    man0, man1 = commit_meta(root, 0)["manifest"], meta1["manifest"]
    for b in range(3):
        assert man1[str(b)] == f"v1/_mt_bucket={b}"
    for b in range(3, 16):
        assert man1[str(b)] == man0[str(b)] == f"v0/_mt_bucket={b}"
        assert _bucket_files(root, man1, b) == _bucket_files(root, man0, b)
    # write-once: second call does not recommit
    mtime = os.path.getmtime(os.path.join(root, "_commits", "1"))
    df2 = q.fn(spark, SF_SMOKE)
    assert df2.count() == n1
    assert os.path.getmtime(os.path.join(root, "_commits", "1")) == mtime
    plan = df2._jdf.queryExecution().executedPlan().toString()
    assert "FileScan parquet" in plan
    assert "Join" not in plan  # manifest-resolved read is a scan


# ---------------------------------------------------------------------------
# commit-time file statistics + data skipping (round 11, r10 VERDICT item 3)
# ---------------------------------------------------------------------------


def test_commit_stats_and_key_range_skipping(spark, tmp_path):
    """stats_key commits record per-file footer min/max in the marker
    (disjoint ranges — the snapshot is range-partitioned + sorted), and
    a ranges read on the key plans ONLY the overlapping files
    (inputFiles is a proper subset), returns exactly the predicate
    rows, returns empty for an out-of-range predicate without scanning,
    and raises loudly on a version committed without stats."""
    from dataframe_expressions_spark.sources.mergetable import commit_meta

    root = str(tmp_path / "tbl")
    df = spark.createDataFrame(
        [(k, float(k) * 2) for k in range(1000)], "k long, val double"
    )
    commit_snapshot(df, root, 0, n_files=8, stats_key="k")
    stats = commit_meta(root, 0)["file_stats_cols"]
    assert stats["key"] == "k" and stats["cols"] == ["k"]
    files = {rel: per["k"] for rel, per in stats["files"].items()}
    assert len(files) == 8 and all(mm is not None for mm in files.values())
    # disjoint, covering ranges (range partition + sort within)
    spans = sorted(files.values())
    assert spans[0][0] == 0 and spans[-1][1] == 999
    for a, b in zip(spans, spans[1:]):
        assert a[1] < b[0]

    pruned = read_version(spark, root, 0, ranges={"k": (100, 260)})
    got = sorted((r.k, r.val) for r in pruned.collect())
    assert got == [(k, float(k) * 2) for k in range(100, 261)]
    touched = set(pruned.inputFiles())
    assert 1 <= len(touched) < len(files)  # PROPER subset: skipping skips
    expect = {
        rel.rsplit("/", 1)[1]
        for rel, mm in files.items()
        if not (mm[1] < 100 or mm[0] > 260)
    }
    assert {f.rsplit("/", 1)[1] for f in touched} == expect

    # out-of-range: exact empty, no matching files planned
    assert read_version(
        spark, root, 0, ranges={"k": (5000, 6000)}
    ).count() == 0

    # versions without stats reject ranges loudly
    commit_snapshot(df, root, 1)
    with pytest.raises(ValueError, match="no file statistics"):
        read_version(spark, root, 1, ranges={"k": (0, 10)})


def test_table_read_skipping_query_prunes_files(spark):
    """The registered query: its scan must touch a PROPER subset of
    v1's parquet files (marker-stats pruning), while the full v1 read
    touches them all."""
    from dataframe_expressions_spark.operators.registry import load_all
    from dataframe_expressions_spark.operators.tier8 import _merge_table_root
    from dataframe_expressions_spark.sources.mergetable import read_version

    q = load_all()["table_read_skipping"]
    df = q.fn(spark, SF_SMOKE)
    assert df.count() > 0
    root = _merge_table_root(SF_SMOKE)
    all_files = set(read_version(spark, root, 1).inputFiles())
    pruned_files = set(df.inputFiles())
    assert pruned_files < all_files, (len(pruned_files), len(all_files))


# ---------------------------------------------------------------------------
# if-absent multi-writer commit (round 11, r10 VERDICT item 4)
# ---------------------------------------------------------------------------


def test_exclusive_commit_concurrent_writers_no_lost_update(spark, tmp_path):
    """Two genuinely concurrent writers racing for the next version must
    BOTH land durably — as v_n and v_{n+1}, each marker's metadata and
    each snapshot's data belonging to its own writer — with no lost
    update and no marker pointing at a missing snapshot.  Repeated over
    a synchronized-start barrier to actually exercise the race window."""
    import threading

    from dataframe_expressions_spark.sources.mergetable import (
        commit_meta,
        commit_snapshot_exclusive,
    )

    root = str(tmp_path / "tbl")
    commit_snapshot(
        spark.createDataFrame([(0, "base")], "k long, who string"), root, 0
    )

    results, errors = {}, []
    barrier = threading.Barrier(2)

    def writer(tag):
        try:
            df = spark.createDataFrame([(1, tag)], "k long, who string")
            barrier.wait(timeout=60)
            n = commit_snapshot_exclusive(df, root, meta={"writer": tag})
            results[tag] = n
        except Exception as e:  # noqa: BLE001 - surfaced via the assert
            errors.append((tag, repr(e)))

    for round_i in range(3):
        results.clear()
        threads = [
            threading.Thread(target=writer, args=(f"w{round_i}-{j}",))
            for j in range(2)
        ]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
        assert not errors, errors
        assert len(results) == 2
        got_ns = sorted(results.values())
        assert got_ns[0] + 1 == got_ns[1], results  # consecutive versions
        for tag, n in results.items():
            meta = commit_meta(root, n)
            assert meta["writer"] == tag  # marker belongs to its writer
            rows = read_version(spark, root, n).collect()
            assert [(r.k, r.who) for r in rows] == [(1, tag)]  # own data
    assert latest_version(root) == 6  # 0 + 3 rounds x 2 writers
    # every marker has its snapshot (the invariant vacuum depends on)
    for m in range(7):
        assert os.path.isdir(os.path.join(root, f"v{m}"))


def test_exclusive_commit_skips_orphans_and_supports_stats(spark, tmp_path):
    """The version scan treats crashed-writer orphan dirs as taken (it
    may never rename onto one), and stats_key commits record skippable
    file statistics through the exclusive path too."""
    from dataframe_expressions_spark.sources.mergetable import (
        commit_meta,
        commit_snapshot_exclusive,
    )

    root = str(tmp_path / "tbl")
    commit_snapshot(spark.createDataFrame([(1,)], "k long"), root, 0)
    os.makedirs(os.path.join(root, "v1"))  # orphan from a crashed writer
    df = spark.createDataFrame([(k,) for k in range(100)], "k long")
    n = commit_snapshot_exclusive(df, root, n_files=4, stats_key="k")
    assert n == 2  # orphan v1 skipped, never overwritten
    stats = commit_meta(root, 2)["file_stats_cols"]
    assert stats["key"] == "k" and len(stats["files"]) == 4
    assert all(per["k"] is not None for per in stats["files"].values())
    pruned = read_version(spark, root, 2, ranges={"k": (10, 20)})
    assert pruned.count() == 11
    assert len(pruned.inputFiles()) < 4


def test_bucket_pruned_point_lookup(spark, tmp_path):
    """key_equals reads scan exactly ONE bucket directory (inputFiles
    confined to it), resolve through the by-reference manifest to
    whichever physical version dir owns the bucket, answer exactly,
    type the literal to the table schema (murmur3 is physical-type
    sensitive), return empty for a bucket with no data, and reject a
    partial bucket key."""
    from dataframe_expressions_spark.sources.mergetable import (
        commit_bucketed,
        merge_into_bucketed,
        read_bucketed,
    )

    root = str(tmp_path / "tbl")
    tgt = spark.createDataFrame(
        [(k, float(10 * k)) for k in range(40)], "k long, bal double"
    )
    commit_bucketed(tgt, root, 0, on="k", n_buckets=8, hashed=True)
    merge_into_bucketed(
        spark, root, spark.createDataFrame([(3, 1.0)], "k long, delta double"),
        matched_update={"bal": "t.bal + s.delta"},
        not_matched_insert={"bal": "s.delta"},
    )
    # int literal against a bigint column: must probe the RIGHT bucket
    hit = read_bucketed(spark, root, 1, key_equals={"k": 17})
    rows = hit.collect()
    assert [(r.k, r.bal) for r in rows] == [(17, 170.0)]
    files = hit.inputFiles()
    assert files and len({f.rsplit("/", 2)[1] for f in files}) == 1
    assert all("_mt_bucket=" in f for f in files)
    # the merged key probes v1's rewritten bucket and sees the update
    assert read_bucketed(
        spark, root, 1, key_equals={"k": 3}
    ).collect()[0].bal == 31.0
    # absent key in an existing bucket: empty, still one-bucket scan
    assert read_bucketed(spark, root, 1, key_equals={"k": 999}).count() == 0
    with pytest.raises(ValueError, match="exactly the bucket key"):
        read_bucketed(spark, root, 1, key_equals={"nope": 1})


# ---------------------------------------------------------------------------
# round-11 review fixes (pre-close code-review pass)
# ---------------------------------------------------------------------------


def test_bucketed_merge_casts_source_key_to_table_type(spark, tmp_path):
    """Murmur3 is physical-type sensitive: a source whose key arrives as
    INT against a BIGINT table must NOT compute a wrong touched set or
    route merged rows into by-reference buckets (which would shadow
    them with partial rewrites).  The key is cast to the table schema
    first; result equals the wide-typed merge exactly."""
    from dataframe_expressions_spark.sources.mergetable import (
        commit_bucketed,
        commit_meta,
        merge_into_bucketed,
        read_bucketed,
    )

    root = str(tmp_path / "tbl")
    tgt = spark.createDataFrame(
        [(k, float(k)) for k in range(30)], "k long, bal double"
    )
    commit_bucketed(tgt, root, 0, on="k", n_buckets=8, hashed=True)
    narrow = spark.createDataFrame(
        [(3, 1.0), (7, 2.0)], "k int, delta double"  # INT, table is BIGINT
    )
    merge_into_bucketed(
        spark, root, narrow,
        matched_update={"bal": "t.bal + s.delta"},
        not_matched_insert={"bal": "s.delta"},
    )
    got = {r.k: r.bal for r in read_bucketed(spark, root, 1).collect()}
    assert got[3] == 4.0 and got[7] == 9.0 and len(got) == 30
    # touched set is the BIGINT hash buckets of {3, 7}
    exp = {
        str(r.b)
        for r in spark.range(1)
        .selectExpr("pmod(hash(CAST(3 AS BIGINT)), 8) AS b")
        .union(spark.range(1).selectExpr("pmod(hash(CAST(7 AS BIGINT)), 8)"))
        .collect()
    }
    assert set(commit_meta(root, 1)["touched_buckets"]) == exp


def test_bucketed_null_keys_reject_loudly(spark, tmp_path):
    """A NULL key under modulo bucketing buckets to NULL (Hive default
    partition) — commit must refuse BEFORE the marker (snapshot stays
    invisible), and a NULL source key must refuse before the merge;
    hashed mode tolerates NULLs (murmur3 of NULL is an ordinary
    bucket)."""
    from dataframe_expressions_spark.sources.mergetable import (
        commit_bucketed,
        merge_into_bucketed,
        read_bucketed,
    )

    root = str(tmp_path / "tbl")
    with_null = spark.createDataFrame(
        [(1, 1.0), (None, 2.0)], "k long, bal double"
    )
    with pytest.raises(ValueError, match="NULL key"):
        commit_bucketed(
            with_null, root, 0, on="k", n_buckets=4, hashed=False
        )
    assert latest_version(root) is None  # no marker: commit refused

    root2 = str(tmp_path / "tbl2")
    commit_bucketed(with_null, root2, 0, on="k", n_buckets=4, hashed=True)
    assert read_bucketed(spark, root2, 0).count() == 2
    with pytest.raises(ValueError, match="contains NULLs"):
        # modulo table + NULL source key
        root3 = str(tmp_path / "tbl3")
        commit_bucketed(
            spark.createDataFrame([(1, 1.0)], "k long, bal double"),
            root3, 0, on="k", n_buckets=4, hashed=False,
        )
        merge_into_bucketed(
            spark, root3,
            spark.createDataFrame([(None, 5.0)], "k long, delta double"),
            matched_update={"bal": "s.delta"},
            not_matched_insert={"bal": "s.delta"},
        )


def test_stats_unorderable_types_kept_conservatively(spark, tmp_path):
    """Decimal footer stats have no order-preserving JSON form —
    str(Decimal) compares lexicographically and could PRUNE a matching
    file — so such files record None stats and every ranges read
    keeps them; mismatched range bound types reject loudly instead of
    comparing str against numbers."""
    from decimal import Decimal

    from dataframe_expressions_spark.sources.mergetable import commit_meta

    root = str(tmp_path / "tbl")
    df = spark.createDataFrame(
        [(Decimal(f"{k}.50"),) for k in range(100, 1200, 10)],
        "price decimal(10,2)",
    )
    commit_snapshot(df, root, 0, n_files=4, stats_key="price")
    files = commit_meta(root, 0)["file_stats_cols"]["files"]
    assert len(files) == 4
    assert all(per == {"price": None} for per in files.values())
    # conservative: all files read, result exact anyway
    got = read_version(
        spark, root, 0, ranges={"price": (Decimal("900"), Decimal("1050"))}
    )
    assert got.count() == 15  # 900.50 .. 1040.50 by 10
    assert len(got.inputFiles()) == 4  # nothing pruned — nothing LOST

    # string-typed stats vs numeric range: loud mismatch
    sdf = spark.createDataFrame(
        [(f"k{k:04d}",) for k in range(100)], "name string"
    )
    commit_snapshot(sdf, root, 1, n_files=2, stats_key="name")
    assert read_version(
        spark, root, 1, ranges={"name": ("k0010", "k0020")}
    ).count() == 11  # str stats prune validly (lexicographic == natural)
    with pytest.raises(ValueError, match="do not match the recorded"):
        read_version(spark, root, 1, ranges={"name": (10, 20)})


def test_merge_clause_key_assignment_rejected(spark):
    """SQL MERGE forbids updating ON columns; ours previously IGNORED
    such entries silently (and the bucketed layout invariant quietly
    depended on that) — now a loud ValueError."""
    tgt = spark.createDataFrame([(1, 10.0)], "k long, bal double")
    src = spark.createDataFrame([(1, 5.0)], "k long, delta double")
    with pytest.raises(ValueError, match="may not assign join key"):
        merge_into(
            tgt, src, on="k",
            matched_update={"k": "s.k + 1", "bal": "s.delta"},
            not_matched_insert={"bal": "s.delta"},
        )
    with pytest.raises(ValueError, match="may not assign join key"):
        merge_into(
            tgt, src, on="k",
            matched_update={"bal": "s.delta"},
            not_matched_insert={"k": "s.k"},
        )


def test_strict_source_keys_survives_count_named_key(spark):
    """A join key literally named 'count' must not trip an ambiguous
    reference inside the duplicate guard."""
    tgt = spark.createDataFrame([(1, 10.0)], "count long, bal double")
    src = spark.createDataFrame([(1, 5.0), (2, 7.0)], "count long, delta double")
    out = merge_into(
        tgt, src, on="count",
        matched_update={"bal": "t.bal + s.delta"},
        not_matched_insert={"bal": "s.delta"},
        strict_source_keys=True,
    )
    assert {r["count"]: r.bal for r in out.collect()} == {1: 15.0, 2: 7.0}
    dup = spark.createDataFrame(
        [(1, 5.0), (1, 7.0)], "count long, delta double"
    )
    with pytest.raises(ValueError, match="duplicate join key"):
        merge_into(
            tgt, dup, on="count",
            matched_update={"bal": "s.delta"},
            not_matched_insert={"bal": "s.delta"},
            strict_source_keys=True,
        )


# ---------------------------------------------------------------------------
# round 11 (continuation): MERGE delete clauses, merge-on-read deletes,
# change data feed, bucket compaction, stats carry-forward
# ---------------------------------------------------------------------------


def test_merge_into_delete_clauses(spark):
    """The two DELETE clause kinds: WHEN MATCHED AND cond THEN DELETE
    drops the matched row (taking precedence over the update clause),
    WHEN NOT MATCHED BY SOURCE AND cond THEN DELETE drops target-only
    rows; a NULL-valued condition keeps the row (SQL AND semantics)."""
    tgt = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", -950.0), (3, "c", 3.0), (5, "e", None)],
        "k long, name string, bal double",
    )
    src = spark.createDataFrame(
        [(1, -20.0), (4, 7.0)], "k long, delta double"
    )
    out = merge_into(
        tgt, src, on="k",
        matched_update={"bal": "t.bal + s.delta"},
        not_matched_insert={"name": "'NEW'", "bal": "s.delta"},
        matched_delete="t.bal + s.delta < 0",
        not_matched_by_source_delete="t.bal < -900",
    )
    rows = {r.k: (r.name, r.bal) for r in out.collect()}
    # k=1 matched, 10-20 < 0 -> DELETED (not updated); k=2 target-only,
    # bal < -900 -> DELETED; k=3 passthrough; k=4 insert; k=5 NULL bal ->
    # NULL condition -> KEPT
    assert rows == {3: ("c", 3.0), 4: ("NEW", 7.0), 5: ("e", None)}, rows


def test_mor_delete_chain_time_travel_and_compact(spark, tmp_path):
    """Merge-on-read equality deletes: each delete commit writes ONLY
    the deleted keys; reads resolve the chain with broadcast anti-joins;
    every version stays time-travelable; compact_mor folds the chain
    into a plain snapshot byte-equal to the resolved state."""
    from dataframe_expressions_spark.sources.mergetable import (
        commit_meta,
        commit_mor_delete,
        compact_mor,
    )

    root = str(tmp_path / "mor")
    v0 = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", -5.0), (3, "c", 3.0), (4, "d", -1.0)],
        "k long, name string, bal double",
    )
    commit_snapshot(v0, root, 0)
    assert commit_mor_delete(spark, root, "bal < 0", on="k") == 1
    assert sorted(r.k for r in read_version(spark, root).collect()) == [1, 3]
    assert commit_mor_delete(spark, root, "name = 'c'", on="k") == 2
    assert sorted(r.k for r in read_version(spark, root).collect()) == [1]
    # the delete version's directory holds only the key file — O(deleted
    # keys) bytes, not a rewrite
    m1 = commit_meta(root, 1)
    assert m1["mor_base"] == 0 and m1["delete_key"] == ["k"]
    assert os.path.isdir(os.path.join(root, m1["delete_rel"]))
    # chain time travel
    assert sorted(r.k for r in read_version(spark, root, 1).collect()) == [1, 3]
    assert sorted(r.k for r in read_version(spark, root, 0).collect()) == [1, 2, 3, 4]
    # compact: plain snapshot, no mor_base, content identical
    assert compact_mor(spark, root) == 3
    m3 = commit_meta(root, 3)
    assert "mor_base" not in m3
    assert sorted(tuple(r) for r in read_version(spark, root, 3).collect()) == [
        (1, "a", 10.0)
    ]
    # guards: bucketed base and unknown key column raise
    with pytest.raises(ValueError, match="not on the table"):
        commit_mor_delete(spark, root, "bal < 0", on="nope")


def test_vacuum_keeps_mor_chain_alive(spark, tmp_path):
    """Vacuum promotes a kept MoR version's base chain to kept (data AND
    markers — resolution reads ancestor metadata); once compaction
    retires the chain, the ancestors become droppable."""
    from dataframe_expressions_spark.sources.mergetable import (
        commit_mor_delete,
        compact_mor,
        vacuum,
    )

    root = str(tmp_path / "morvac")
    commit_snapshot(
        spark.createDataFrame(
            [(1, 1.0), (2, -2.0), (3, 3.0)], "k long, bal double"
        ),
        root,
        0,
    )
    commit_mor_delete(spark, root, "bal < 0", on="k")
    commit_mor_delete(spark, root, "k = 3", on="k")
    # keep=1 would nominally drop v0,v1 — but v2 resolves through them
    assert vacuum(root, keep=1) == []
    assert sorted(r.k for r in read_version(spark, root).collect()) == [1]
    compact_mor(spark, root)  # v3, plain
    assert vacuum(root, keep=1) == [0, 1, 2]
    assert sorted(r.k for r in read_version(spark, root).collect()) == [1]


def test_table_changes_plain_and_schema_evolution(spark, tmp_path):
    """The CDF kernel over plain versions: insert/delete rows carry one
    image, updates carry BOTH images; unchanged keys emit nothing; a
    column added at to_v reads as NULL in pre-images and delete rows
    (schema evolution), and a non-NULL evolved value alone marks the
    row updated."""
    from dataframe_expressions_spark.sources.mergetable import table_changes

    root = str(tmp_path / "cdf")
    commit_snapshot(
        spark.createDataFrame(
            [(1, "a", 1.0), (2, "b", 2.0), (3, "c", 3.0), (5, "e", 5.0)],
            "k long, name string, bal double",
        ),
        root,
        0,
    )
    commit_snapshot(
        spark.createDataFrame(
            [(1, "a", 1.0, None), (2, "b", 9.0, None), (4, "d", 4.0, "x"),
             (5, "e", 5.0, "tagged")],
            "k long, name string, bal double, tag string",
        ),
        root,
        1,
    )
    ch = table_changes(spark, root, 0, 1, on="k")
    assert ch.columns == ["k", "name", "bal", "tag", "change_type"]
    got = sorted((r.k, r.change_type, r.bal, r.tag) for r in ch.collect())
    assert got == [
        (2, "update_postimage", 9.0, None),
        (2, "update_preimage", 2.0, None),
        (3, "delete", 3.0, None),
        (4, "insert", 4.0, "x"),
        (5, "update_postimage", 5.0, "tagged"),  # evolved value alone
        (5, "update_preimage", 5.0, None),
    ], got
    with pytest.raises(ValueError, match="needs on="):
        table_changes(spark, root, 0, 1)


def test_table_changes_bucketed_fast_path_reads_only_diff_buckets(
    spark, tmp_path
):
    """On a bucketed table the feed reads ONLY buckets whose manifest
    entries differ between the versions — by-reference buckets are
    provably unchanged (immutable files, identical paths), so the scan
    set is 2k/B for a k-bucket merge, asserted via inputFiles()."""
    from dataframe_expressions_spark.sources.mergetable import (
        commit_bucketed,
        merge_into_bucketed,
        table_changes,
    )

    root = str(tmp_path / "cdfb")
    tgt = spark.createDataFrame(
        [(k, float(10 * k)) for k in range(32)], "k long, bal double"
    )
    commit_bucketed(tgt, root, 0, on="k", n_buckets=8, hashed=False)
    src = spark.createDataFrame(
        [(0, 1.0), (9, 2.0), (80, 4.0)], "k long, delta double"
    )
    merge_into_bucketed(
        spark, root, src,
        matched_update={"bal": "t.bal + s.delta"},
        not_matched_insert={"bal": "s.delta"},
    )
    ch = table_changes(spark, root, 0, 1)
    got = sorted((r.k, r.change_type) for r in ch.collect())
    assert got == [
        (0, "update_postimage"), (0, "update_preimage"),
        (9, "update_postimage"), (9, "update_preimage"),
        (80, "insert"),
    ], got
    files = ch.inputFiles()
    assert files and all(
        "_mt_bucket=0/" in f or "_mt_bucket=1/" in f for f in files
    ), files


def test_bucketed_merge_carries_file_stats_forward(spark, tmp_path):
    """A bucketed table committed with stats_key keeps range skipping
    working ACROSS merges: the merge marker refreshes stats for
    rewritten buckets and carries the recorded entries for by-reference
    ones (immutable files — the old stats stay exact)."""
    from dataframe_expressions_spark.sources.mergetable import (
        commit_bucketed,
        commit_meta,
        merge_into_bucketed,
        read_bucketed,
    )

    root = str(tmp_path / "bstats")
    tgt = spark.createDataFrame(
        [(k, float(k)) for k in range(64)], "k long, bal double"
    )
    commit_bucketed(
        tgt, root, 0, on="k", n_buckets=8, hashed=False, stats_key="k"
    )
    src = spark.createDataFrame([(1, 100.0)], "k long, delta double")
    merge_into_bucketed(
        spark, root, src,
        matched_update={"bal": "t.bal + s.delta"},
        not_matched_insert={"bal": "s.delta"},
    )
    m1 = commit_meta(root, 1)
    stats = m1["file_stats_cols"]
    assert stats["key"] == "k" and stats["cols"] == ["k"]
    rels = set(stats["files"])
    assert all(set(per) == {"k"} for per in stats["files"].values())
    # carried entries point at v0 (by-reference), refreshed at v1
    assert any(r.startswith("v0/") for r in rels)
    assert any(r.startswith("v1/") for r in rels)
    # every manifest dir is covered by the stats
    covered = {r.rsplit("/", 1)[0] for r in rels}
    assert covered == set(m1["manifest"].values())
    got = read_bucketed(spark, root, 1, ranges={"k": (0, 3)})
    assert {r.k: r.bal for r in got.collect()} == {
        0: 0.0, 1: 101.0, 2: 2.0, 3: 3.0
    }


def test_compact_buckets_rewrites_only_fragmented(spark, tmp_path):
    """Compaction contract: buckets over the file threshold are rewritten
    to one sorted file; already-compact buckets ride BY REFERENCE (same
    paths); content is byte-identical; stats are refreshed/carried; a
    table with nothing to compact returns the current version without
    burning a number."""
    from dataframe_expressions_spark.sources.mergetable import (
        commit_bucketed,
        commit_meta,
        compact_buckets,
        read_bucketed,
    )

    root = str(tmp_path / "frag")
    tgt = spark.createDataFrame(
        [(k, float(k)) for k in range(256)], "k long, bal double"
    )
    # n_files=32 over 8 buckets -> multiple files per bucket dir
    commit_bucketed(
        tgt, root, 0, on="k", n_buckets=8, hashed=False, stats_key="k",
        n_files=32,
    )
    man0 = commit_meta(root, 0)["manifest"]
    frag_counts = {
        b: len([x for x in os.listdir(os.path.join(root, rel))
                if x.endswith(".parquet")])
        for b, rel in man0.items()
    }
    assert any(c > 1 for c in frag_counts.values()), frag_counts
    n1 = compact_buckets(spark, root, max_files=1)
    assert n1 == 1
    m1 = commit_meta(root, 1)
    man1 = m1["manifest"]
    for b, rel in man1.items():
        nf = len([x for x in os.listdir(os.path.join(root, rel))
                  if x.endswith(".parquet")])
        if frag_counts[b] > 1:
            assert rel.startswith("v1/") and nf == 1, (b, rel, nf)
        else:
            assert rel == man0[b], (b, rel)  # by reference
    got = sorted(tuple(r) for r in read_bucketed(spark, root, 1).collect())
    assert got == sorted(tuple(r) for r in tgt.collect())
    # stats survived the compaction and still prune
    assert set(m1["file_stats_cols"]["files"]) and read_bucketed(
        spark, root, 1, ranges={"k": (10, 12)}
    ).count() == 3
    # idempotent threshold: nothing fragmented now -> no new version
    assert compact_buckets(spark, root, max_files=1) == 1
    with pytest.raises(ValueError, match="max_files"):
        compact_buckets(spark, root, max_files=0)


def test_feed_since_multi_commit_with_mor_and_evolution(spark, tmp_path):
    """feed_since unions per-commit diffs with _commit_version stamps;
    a MoR delete commit inside the range feeds as pure delete rows
    (resolution through the anti-join), and a column added mid-range
    NULL-fills earlier commits' rows (name-based union)."""
    from dataframe_expressions_spark.sources.mergetable import (
        commit_mor_delete,
        feed_since,
    )

    root = str(tmp_path / "feed")
    commit_snapshot(
        spark.createDataFrame(
            [(1, 1.0), (2, -2.0), (3, 3.0)], "k long, bal double"
        ),
        root,
        0,
    )
    # v1: plain rewrite — k=1 updated, k=4 inserted
    commit_snapshot(
        spark.createDataFrame(
            [(1, 9.0), (2, -2.0), (3, 3.0), (4, 4.0)], "k long, bal double"
        ),
        root,
        1,
    )
    # v2: merge-on-read delete of negative balances (k=2)
    commit_mor_delete(spark, root, "bal < 0", on="k")
    # v3: evolved schema — new tag column, k=3 tagged
    commit_snapshot(
        spark.createDataFrame(
            [(1, 9.0, None), (3, 3.0, "x"), (4, 4.0, None)],
            "k long, bal double, tag string",
        ),
        root,
        3,
    )
    feed = feed_since(spark, root, 0, on="k")
    got = sorted(
        (r._commit_version, r.k, r.change_type, r.bal, r.tag)
        for r in feed.collect()
    )
    assert got == [
        (1, 1, "update_postimage", 9.0, None),
        (1, 1, "update_preimage", 1.0, None),
        (1, 4, "insert", 4.0, None),
        (2, 2, "delete", -2.0, None),
        (3, 3, "update_postimage", 3.0, "x"),
        (3, 3, "update_preimage", 3.0, None),
    ], got
    # a consumer that already saw v2 gets only the v3 commit
    tail = feed_since(spark, root, 2, on="k")
    assert {r._commit_version for r in tail.collect()} == {3}
    with pytest.raises(ValueError, match="empty"):
        feed_since(spark, root, 9, on="k")


def test_bucketed_merge_matched_delete_confined_to_touched(spark, tmp_path):
    """matched_delete composes with bucket scoping: a matched row's
    bucket is touched by construction, so deletes land inside the
    rewrite set; negative rows in UNTOUCHED buckets survive unchanged
    (no change arrived for them) and their files ride by reference."""
    from dataframe_expressions_spark.sources.mergetable import (
        commit_bucketed,
        commit_meta,
        merge_into_bucketed,
        read_bucketed,
    )

    root = str(tmp_path / "bdel")
    # k % 4 buckets; negative balances at k = 2 (bucket 2) and k = 5
    # (bucket 1)
    tgt = spark.createDataFrame(
        [(0, 10.0), (1, 11.0), (2, -5.0), (4, 40.0), (5, -7.0)],
        "k long, bal double",
    )
    commit_bucketed(tgt, root, 0, on="k", n_buckets=4, hashed=False)
    man0 = commit_meta(root, 0)["manifest"]
    # source touches buckets {1, 2}: k=5 matched (negative -> DELETE),
    # k=2 matched (negative -> DELETE), k=9 insert (bucket 1)
    src = spark.createDataFrame(
        [(5, 1.0), (2, 1.0), (9, 9.0)], "k long, delta double"
    )
    merge_into_bucketed(
        spark, root, src,
        matched_update={"bal": "t.bal + s.delta"},
        not_matched_insert={"bal": "s.delta"},
        matched_delete="t.bal < 0",
    )
    got = {r.k: r.bal for r in read_bucketed(spark, root, 1).collect()}
    # 2 and 5 purged; 9 inserted; 0/1/4 untouched
    assert got == {0: 10.0, 1: 11.0, 4: 40.0, 9: 9.0}, got
    man1 = commit_meta(root, 1)["manifest"]
    assert man1["0"] == man0["0"]  # untouched bucket by reference


_cdf_state = st.dictionaries(
    st.integers(min_value=0, max_value=7),
    st.tuples(
        st.sampled_from(["a", "b", "c"]),
        st.one_of(st.none(), st.floats(allow_nan=False, allow_infinity=False,
                                       width=32)),
    ),
    max_size=8,
)


@pytest.mark.usefixtures("spark")
@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(_cdf_state, _cdf_state)
def test_diff_changes_matches_python_reference(spark, before, after):
    """Brute-force reference (per-op ritual): the CDF kernel over
    arbitrary before/after states — inserts/deletes carry one image,
    updates exactly two, unchanged keys nothing, NULL values compared
    null-safely — must equal the dict diff a Python loop computes."""
    import pandas as pd

    from dataframe_expressions_spark.sources.mergetable import _diff_changes

    def mk(state):
        rows = [(k, v[0], v[1]) for k, v in state.items()]
        return spark.createDataFrame(
            pd.DataFrame(rows, columns=["k", "name", "val"]).astype(
                {"k": "Int64"}
            ),
            "k long, name string, val double",
        )

    got = sorted(
        (r.k, r.change_type, r.name, r.val)
        for r in _diff_changes(mk(before), mk(after), ["k"]).collect()
    )
    want = []
    for k in set(before) | set(after):
        if k not in before:
            want.append((k, "insert", *after[k]))
        elif k not in after:
            want.append((k, "delete", *before[k]))
        elif before[k] != after[k]:
            want.append((k, "update_preimage", *before[k]))
            want.append((k, "update_postimage", *after[k]))
    assert got == sorted(want)


@pytest.mark.usefixtures("spark")
@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    st.lists(st.floats(min_value=-100, max_value=100, allow_nan=False),
             min_size=0, max_size=10, unique=True),
    st.integers(min_value=-50, max_value=50),
    st.integers(min_value=-50, max_value=50),
)
def test_mor_chain_matches_python_reference(spark, bals, cut1, cut2):
    """Brute-force reference: two chained merge-on-read delete
    predicates resolve to exactly the Python double-filter — the chain
    semantics equal sequential SQL DELETEs regardless of predicate
    overlap (including all-deleted and none-deleted edges)."""
    import tempfile

    from dataframe_expressions_spark.sources.mergetable import (
        commit_mor_delete,
    )

    with tempfile.TemporaryDirectory() as tmp:
        root = f"{tmp}/t"
        rows = [(i, b) for i, b in enumerate(bals)]
        commit_snapshot(
            spark.createDataFrame(rows, "k long, bal double"), root, 0
        )
        commit_mor_delete(spark, root, f"bal < {cut1}", on="k")
        commit_mor_delete(spark, root, f"bal > {cut2}", on="k")
        got = sorted(r.k for r in read_version(spark, root).collect())
        want = sorted(
            i for i, b in rows if not (b < cut1) and not (b > cut2)
        )
        assert got == want


def test_mor_delete_null_keys_and_orphan_dirs(spark, tmp_path):
    """Round-11 review regressions: (a) a NULL-key row selected by
    DELETE WHERE is actually deleted (the anti-join is null-safe);
    (b) a crashed delete commit's marker-less orphan dir is NEVER
    reused — the next commit_mor_delete writes its own keys fresh, so
    the marker's predicate always describes the data."""
    import shutil as _shutil

    from dataframe_expressions_spark.sources.mergetable import (
        commit_mor_delete,
    )

    root = str(tmp_path / "mornull")
    commit_snapshot(
        spark.createDataFrame(
            [(1, 1.0), (None, -9.0), (3, -3.0)], "k long, bal double"
        ),
        root,
        0,
    )
    commit_mor_delete(spark, root, "bal < 0", on="k")
    got = sorted(
        (r.k for r in read_version(spark, root).collect()),
        key=lambda x: (x is None, x),
    )
    assert got == [1], got  # NULL-key negative row gone too

    # orphan simulation: v2 dir holds a STALE delete file (key 1), no
    # marker; the next delete commit must discard it, not adopt it
    stale = os.path.join(root, "v2")
    spark.createDataFrame([(1,)], "k long").write.parquet(
        os.path.join(stale, "_deletes")
    )
    commit_mor_delete(
        spark, root, "bal > 100", on="k", marker_timeout=0.3
    )  # matches nothing
    assert sorted(r.k for r in read_version(spark, root).collect()) == [1]


def test_bucketed_merge_keeps_the_table_column_types(spark, tmp_path):
    """A SET expression's type must not leak into the rewritten buckets:
    ``t.x + s.d`` over two DECIMAL(12,2) columns is DECIMAL(13,2), and
    written as such the merged buckets disagree with the by-reference
    ones — the table's reads then fail with
    PARQUET_COLUMN_DATA_TYPE_MISMATCH, and the type widens with every
    merge.  The merge casts back to the table's types; an overflow of
    them raises and commits nothing."""
    import glob
    from decimal import Decimal

    import pyarrow as pa
    import pyarrow.parquet as pq

    from dataframe_expressions_spark.sources.mergetable import (
        commit_bucketed,
        merge_into_bucketed,
        read_bucketed,
    )

    root = str(tmp_path / "dec")
    commit_bucketed(
        spark.range(40).selectExpr(
            "id AS k", "cast(id AS decimal(12,2)) AS x"
        ),
        root, 0, on="k", n_buckets=4, hashed=False,
    )

    def batch(k, d):
        return spark.createDataFrame([(k, d)], "k long, d string").selectExpr(
            "k", "cast(d AS decimal(12,2)) AS d"
        )

    for i in range(11):  # v10 sorts before v2: the path order flips
        merge_into_bucketed(
            spark, root, batch(i % 2, "0.50"), {"x": "t.x + s.d"}, {}
        )
    got = {r.k: r.x for r in read_bucketed(spark, root).collect()}
    assert got[0] == Decimal("3.00") and got[1] == Decimal("3.50")
    assert got[39] == Decimal("39.00") and len(got) == 40
    files = glob.glob(os.path.join(root, "v*", "*", "*.parquet"))
    assert {pq.read_schema(f).field("x").type for f in files} == {
        pa.decimal128(12, 2)
    }

    with pytest.raises(Exception, match="NUMERIC_VALUE_OUT_OF_RANGE"):
        merge_into_bucketed(
            spark, root, batch(2, "9999999999.99"), {"x": "t.x + s.d"}, {}
        )
    assert latest_version(root) == 11


def test_feed_since_caught_up_returns_empty_frame(spark, tmp_path):
    """A caught-up consumer (since == latest) gets an EMPTY frame with
    the feed schema — the steady state of a polling pipeline must not
    be an error (round-11 review)."""
    from dataframe_expressions_spark.sources.mergetable import feed_since

    root = str(tmp_path / "fcu")
    commit_snapshot(
        spark.createDataFrame([(1, 1.0)], "k long, bal double"), root, 0
    )
    tail = feed_since(spark, root, 0, on="k")
    assert tail.columns == ["k", "bal", "change_type", "_commit_version"]
    assert tail.count() == 0


def test_crashed_compaction_orphan_does_not_wedge_merges(spark, tmp_path):
    """A compact_buckets crash between snapshot rename and marker write
    leaves a marker-less orphan at the NEXT version number; a subsequent
    bucketed MERGE must fence it after marker_timeout and commit its own
    data past it, never adopting the orphan's buckets (round-11 review:
    the stray-bucket guard would otherwise reject the stale dir forever,
    wedging the table)."""
    from dataframe_expressions_spark.sources.mergetable import (
        commit_bucketed,
        merge_into_bucketed,
        read_bucketed,
    )

    root = str(tmp_path / "wedge")
    tgt = spark.createDataFrame(
        [(k, float(k)) for k in range(16)], "k long, bal double"
    )
    commit_bucketed(tgt, root, 0, on="k", n_buckets=4, hashed=False)
    # simulate the crashed compaction: v1 exists with buckets {2, 3},
    # no marker
    orphan = spark.createDataFrame(
        [(2, 0.0), (3, 0.0), (7, 0.0)], "k long, bal double"
    )
    from pyspark.sql import functions as F  # noqa: N812

    orphan.withColumn("_mt_bucket", F.expr("pmod(k, 4)")).write.partitionBy(
        "_mt_bucket"
    ).parquet(os.path.join(root, "v1"))
    # merge touching only bucket 0 must succeed, not raise bucket drift
    src = spark.createDataFrame([(0, 100.0)], "k long, delta double")
    n = merge_into_bucketed(
        spark, root, src,
        matched_update={"bal": "t.bal + s.delta"},
        not_matched_insert={"bal": "s.delta"},
        marker_timeout=0.3,
    )
    assert n == 2
    got = {r.k: r.bal for r in read_bucketed(spark, root, 2).collect()}
    assert got[0] == 100.0 and len(got) == 16
    assert [got[k] for k in (2, 3, 7)] == [2.0, 3.0, 7.0]  # orphan unseen


def test_feed_column_collisions_raise(spark, tmp_path):
    """change_type / _commit_version data columns would be shadowed or
    ambiguous in the feed output — both refuse loudly (round-11
    review)."""
    from dataframe_expressions_spark.sources.mergetable import (
        feed_since,
        table_changes,
    )

    root = str(tmp_path / "coll")
    commit_snapshot(
        spark.createDataFrame(
            [(1, "x")], "k long, change_type string"
        ),
        root,
        0,
    )
    commit_snapshot(
        spark.createDataFrame(
            [(1, "y")], "k long, change_type string"
        ),
        root,
        1,
    )
    with pytest.raises(ValueError, match="change_type"):
        table_changes(spark, root, 0, 1, on="k").collect()
    root2 = str(tmp_path / "coll2")
    commit_snapshot(
        spark.createDataFrame([(1, 5)], "k long, _commit_version long"),
        root2,
        0,
    )
    commit_snapshot(
        spark.createDataFrame([(1, 6)], "k long, _commit_version long"),
        root2,
        1,
    )
    with pytest.raises(ValueError, match="_commit_version"):
        feed_since(spark, root2, 0, on="k").collect()


def test_stream_feed_consume_write_once_and_loop_consistency(spark):
    """The CDC-loop query: second invocation serves the committed
    downstream state (no new upstream or downstream versions), and the
    downstream marker's consumed_through equals the upstream latest —
    the loop drained fully."""
    from dataframe_expressions_spark.operators.registry import load_all
    from dataframe_expressions_spark.sources.mergetable import (
        commit_meta,
        latest_version,
    )
    from dataframe_expressions_spark.sources.tables import (
        source_fingerprint,
        store_root,
    )

    from dataframe_expressions_spark.operators.tier9 import (
        STREAMFEED_TABLE_STEM,
    )

    q = load_all()["stream_feed_consume"]
    rows1 = sorted(tuple(r) for r in q.fn(spark, SF_SMOKE).collect())
    key = SF_SMOKE.rstrip("/").rsplit("/", 1)[-1]
    fp = source_fingerprint(SF_SMOKE, ("events",))
    root = (
        f"{store_root()}/spark_graft_table_{STREAMFEED_TABLE_STEM}_"
        f"{key}_{fp}"
    )
    up, down = os.path.join(root, "up"), os.path.join(root, "down")
    upv, downv = latest_version(up), latest_version(down)
    assert upv >= 1 and downv >= 1
    assert commit_meta(down).get("consumed_through") == upv
    rows2 = sorted(tuple(r) for r in q.fn(spark, SF_SMOKE).collect())
    assert rows2 == rows1
    assert latest_version(up) == upv and latest_version(down) == downv


# ---------------------------------------------------------------------------
# OCC concurrent MERGE (round 12, r11 VERDICT item 1)
# ---------------------------------------------------------------------------


def _mk_occ_base(spark, root, nb=8, n_keys=40):
    """v0: a modulo-bucketed ledger of n_keys zeroed accounts."""
    from dataframe_expressions_spark.sources.mergetable import (
        commit_bucketed,
    )

    df = spark.createDataFrame(
        [(k, 0.0) for k in range(n_keys)], "k long, val double"
    )
    commit_bucketed(df, root, 0, on="k", n_buckets=nb, hashed=False)


def _occ_chg(spark, keys, amt):
    return spark.createDataFrame(
        [(k, float(amt)) for k in keys], "k long, amt double"
    )


_OCC_CLAUSES = dict(
    matched_update={"val": "t.val + s.amt"},
    not_matched_insert={"val": "s.amt"},
)


def test_occ_merge_rebase_on_disjoint_intervening(spark, tmp_path,
                                                  monkeypatch):
    """An intervening commit with a DISJOINT write-set triggers the
    REBASE path: the OCC writer's already-written buckets are adopted
    onto the rival's manifest (zero recompute), both writers' changes
    are present in the final latest version, and the marker records the
    stale read_base alongside the rebased base_version."""
    import dataframe_expressions_spark.sources.mergetable as mt

    root = str(tmp_path / "tbl")
    _mk_occ_base(spark, root)
    fired = {"n": 0}
    orig = mt._claim_slot

    def hooked(root_, base, bmeta, tmp, timeout, on_rival):
        if fired["n"] == 0:
            fired["n"] += 1
            # rival lands AFTER our merge computed, BEFORE our claim:
            # keys {1, 9} = bucket 1, disjoint from ours (bucket 0)
            mt.merge_into_bucketed(
                spark, root_, _occ_chg(spark, [1, 9], 7.0), **_OCC_CLAUSES
            )
        return orig(root_, base, bmeta, tmp, timeout, on_rival)

    monkeypatch.setattr(mt, "_claim_slot", hooked)
    n = mt.merge_into_bucketed(
        spark, root, _occ_chg(spark, [0, 8], 5.0), **_OCC_CLAUSES
    )
    assert n == 2 and fired["n"] == 1
    meta = mt.commit_meta(root, 2)
    assert meta["read_base"] == 0  # computed from the stale base...
    assert meta["base_version"] == 1  # ...rebased onto the rival
    assert meta["touched_buckets"] == ["0"]
    got = {
        r.k: r.val
        for r in mt.read_bucketed(spark, root).collect()
        if r.val != 0.0
    }
    assert got == {0: 5.0, 8: 5.0, 1: 7.0, 9: 7.0}  # no lost update


def test_occ_merge_recompute_on_overlap(spark, tmp_path, monkeypatch):
    """An intervening commit whose write-set OVERLAPS forces
    abort-and-retry: the merge re-runs from the new base, so additive
    updates from BOTH writers compose in the final state."""
    import dataframe_expressions_spark.sources.mergetable as mt

    root = str(tmp_path / "tbl")
    _mk_occ_base(spark, root)
    fired = {"n": 0}
    orig = mt._claim_slot

    def hooked(root_, base, bmeta, tmp, timeout, on_rival):
        if fired["n"] == 0:
            fired["n"] += 1
            # rival touches bucket 0 TOO (key 8), same keys as ours
            mt.merge_into_bucketed(
                spark, root_, _occ_chg(spark, [8], 7.0), **_OCC_CLAUSES
            )
        return orig(root_, base, bmeta, tmp, timeout, on_rival)

    monkeypatch.setattr(mt, "_claim_slot", hooked)
    n = mt.merge_into_bucketed(
        spark, root, _occ_chg(spark, [0, 8], 5.0), **_OCC_CLAUSES
    )
    assert n == 2 and fired["n"] == 1
    meta = mt.commit_meta(root, 2)
    assert meta["read_base"] == 1  # recomputed from the rival's commit
    got = {
        r.k: r.val
        for r in mt.read_bucketed(spark, root).collect()
        if r.val != 0.0
    }
    assert got == {0: 5.0, 8: 12.0}  # 7 (rival) + 5 (ours) composed
    # no leftover writer-private temp dirs
    assert not [x for x in os.listdir(root) if x.startswith(".tmp")]


def test_occ_merge_conflict_exhaustion_and_writesetless_rival(
    spark, tmp_path, monkeypatch
):
    """A rival that overlaps on EVERY attempt exhausts max_retries into
    MergeConflictError with the table unchanged by the loser; a rival
    commit kind that records no write-set (full bucketed rewrite) is a
    conservative conflict that a retry then absorbs."""
    import dataframe_expressions_spark.sources.mergetable as mt
    from dataframe_expressions_spark.sources.mergetable import (
        MergeConflictError,
    )

    root = str(tmp_path / "tbl")
    _mk_occ_base(spark, root)
    orig = mt._claim_slot

    in_rival = []

    def always_rival(root_, base, bmeta, tmp, timeout, on_rival):
        # the rival's own merge claims through this hook too: let it
        # claim unhooked instead of spawning a rival of its own
        if not in_rival:
            in_rival.append(True)
            try:
                mt.merge_into_bucketed(
                    spark, root_, _occ_chg(spark, [0], 1.0), **_OCC_CLAUSES
                )
            finally:
                in_rival.pop()
        return orig(root_, base, bmeta, tmp, timeout, on_rival)

    monkeypatch.setattr(mt, "_claim_slot", always_rival)
    with pytest.raises(MergeConflictError):
        mt.merge_into_bucketed(
            spark,
            root,
            _occ_chg(spark, [0, 8], 5.0),
            max_retries=1,
            **_OCC_CLAUSES,
        )
    v_after = mt.latest_version(root)
    got = {
        r.k: r.val
        for r in mt.read_bucketed(spark, root).collect()
        if r.val != 0.0
    }
    assert got == {0: 2.0}  # two rival commits, loser left no trace
    assert not [x for x in os.listdir(root) if x.startswith(".tmp")]

    # write-set-less rival: a full commit_bucketed rewrite at the next
    # version — first attempt conflicts conservatively, retry succeeds
    fired = {"n": 0}

    def full_rewrite_rival(root_, base, bmeta, tmp, timeout, on_rival):
        if fired["n"] == 0:
            fired["n"] += 1
            cur = mt.read_bucketed(spark, root_)
            mt.commit_bucketed(
                cur, root_, mt.latest_version(root_) + 1, on="k",
                n_buckets=8, hashed=False,
            )
        return orig(root_, base, bmeta, tmp, timeout, on_rival)

    monkeypatch.setattr(mt, "_claim_slot", full_rewrite_rival)
    n = mt.merge_into_bucketed(
        spark, root, _occ_chg(spark, [0, 8], 5.0), **_OCC_CLAUSES
    )
    assert n == v_after + 2 and fired["n"] == 1
    got = {
        r.k: r.val
        for r in mt.read_bucketed(spark, root).collect()
        if r.val != 0.0
    }
    assert got == {0: 7.0, 8: 5.0}


def test_occ_merge_rejects_rebucketed_rival(spark, tmp_path, monkeypatch):
    """A rival that changed the bucket SPEC is never rebased onto and
    never retried against — OCC merge raises, table intact."""
    import dataframe_expressions_spark.sources.mergetable as mt

    root = str(tmp_path / "tbl")
    _mk_occ_base(spark, root, nb=8)
    orig = mt._claim_slot
    fired = {"n": 0}

    def rebucket_rival(root_, base, bmeta, tmp, timeout, on_rival):
        if fired["n"] == 0:
            fired["n"] += 1
            cur = mt.read_bucketed(spark, root_)
            mt.commit_bucketed(
                cur, root_, mt.latest_version(root_) + 1, on="k",
                n_buckets=4, hashed=False,
            )
        return orig(root_, base, bmeta, tmp, timeout, on_rival)

    monkeypatch.setattr(mt, "_claim_slot", rebucket_rival)
    with pytest.raises(ValueError, match="bucket spec"):
        mt.merge_into_bucketed(
            spark, root, _occ_chg(spark, [0], 5.0), **_OCC_CLAUSES
        )
    assert not [x for x in os.listdir(root) if x.startswith(".tmp")]


def test_occ_merge_genuinely_concurrent_writers(spark, tmp_path):
    """Two OCC merges with disjoint bucket write-sets run in genuinely
    concurrent threads: both MUST commit (consecutive versions) and the
    final latest version carries BOTH writers' changes — the
    table-semantics no-lost-update claim, end-to-end."""
    import threading

    import dataframe_expressions_spark.sources.mergetable as mt

    root = str(tmp_path / "tbl")
    _mk_occ_base(spark, root)
    results, errors = {}, []
    barrier = threading.Barrier(2)

    def writer(tag, keys, amt):
        try:
            chg = _occ_chg(spark, keys, amt)
            barrier.wait(timeout=120)
            results[tag] = mt.merge_into_bucketed(
                spark, root, chg, meta={"writer": tag}, **_OCC_CLAUSES
            )
        except Exception as e:  # noqa: BLE001 - surfaced via the assert
            errors.append((tag, repr(e)))

    threads = [
        threading.Thread(target=writer, args=("a", [0, 8, 16], 5.0)),
        threading.Thread(target=writer, args=("b", [1, 9, 17], 7.0)),
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=300)
    assert not errors, errors
    assert sorted(results.values()) == [1, 2], results
    got = {
        r.k: r.val
        for r in mt.read_bucketed(spark, root).collect()
        if r.val != 0.0
    }
    assert got == {0: 5.0, 8: 5.0, 16: 5.0, 1: 7.0, 9: 7.0, 17: 7.0}
    for tag, n in results.items():
        assert mt.commit_meta(root, n)["writer"] == tag


# ---------------------------------------------------------------------------
# OCC maintenance commits (round 13, r12 VERDICT item 1): RESTORE,
# compaction and MoR deletes go through the claim + if-absent protocol
# ---------------------------------------------------------------------------


@contextlib.contextmanager
def _marker_replacement_sentinel():
    """Trip loudly if ANY code path attempts a replace-semantics rename
    onto an EXISTING commit marker while the context is active — the
    exact silent-lost-update primitive round 13 removes from the
    maintenance commits (a published marker must never be replaced;
    the only legal publish against an occupied slot is the if-absent
    ``os.link``, which raises FileExistsError by construction)."""
    real = os.rename
    attempts: list = []

    def guarded(src, dst, *a, **kw):
        d = str(dst)
        if os.sep + "_commits" + os.sep in d and os.path.exists(d):
            attempts.append((str(src), d))
            raise AssertionError(f"marker replacement attempted: {d}")
        return real(src, dst, *a, **kw)

    os.rename = guarded
    try:
        yield attempts
    finally:
        os.rename = real


def test_occ_restore_racing_merge_both_land(spark, tmp_path):
    """RESTORE racing a live OCC merge in genuinely concurrent threads:
    both MUST commit as consecutive versions with neither marker
    replaced.  Whichever lands last determines latest — restore-last
    reverts to v0 content with the merge auditable below it;
    merge-last means the merge detected the restore (write-set-less
    commit = conservative conflict), recomputed from it, and applied
    its changes on top of the restored content."""
    import threading

    import dataframe_expressions_spark.sources.mergetable as mt

    root = str(tmp_path / "tbl")
    _mk_occ_base(spark, root)
    results, errors = {}, []
    barrier = threading.Barrier(2)

    def merger():
        try:
            chg = _occ_chg(spark, [0, 8], 5.0)
            barrier.wait(timeout=120)
            results["merge"] = mt.merge_into_bucketed(
                spark, root, chg, meta={"writer": "merge"}, **_OCC_CLAUSES
            )
        except Exception as e:  # noqa: BLE001 - surfaced via the assert
            errors.append(("merge", repr(e)))

    def restorer():
        try:
            barrier.wait(timeout=120)
            results["restore"] = mt.restore_table(
                spark, root, 0, meta={"writer": "restore"}
            )
        except Exception as e:  # noqa: BLE001 - surfaced via the assert
            errors.append(("restore", repr(e)))

    with _marker_replacement_sentinel() as attempts:
        threads = [
            threading.Thread(target=merger),
            threading.Thread(target=restorer),
        ]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=300)
    assert not errors, errors
    assert not attempts, attempts
    assert sorted(results.values()) == [1, 2], results
    # each op's marker content is its own — neither replaced the other's
    for tag, n in results.items():
        assert mt.commit_meta(root, n)["writer"] == tag
    merge_n, restore_n = results["merge"], results["restore"]
    mmeta, rmeta = mt.commit_meta(root, merge_n), mt.commit_meta(root, restore_n)
    assert mmeta["touched_buckets"] == ["0"]
    assert rmeta["restored_from"] == 0
    nonzero = {
        r.k: r.val
        for r in mt.read_bucketed(spark, root).collect()
        if r.val != 0.0
    }
    if restore_n > merge_n:
        # restore landed last: latest reverts to v0; the merge's commit
        # stays in history, time-travelable below the restore
        assert nonzero == {}
        at_merge = {
            r.k: r.val
            for r in mt.read_bucketed(spark, root, merge_n).collect()
            if r.val != 0.0
        }
        assert at_merge == {0: 5.0, 8: 5.0}
        assert rmeta["base_version"] == merge_n
    else:
        # merge landed last: it saw the restore and recomputed from it
        assert nonzero == {0: 5.0, 8: 5.0}
        assert mmeta["read_base"] == restore_n


def test_occ_compact_racing_merge_both_land(spark, tmp_path):
    """Bucket compaction racing a live OCC merge in genuinely
    concurrent threads: overlapping write-sets (the merge's bucket is
    fragmented too) force one side to recompute, but both MUST commit
    as consecutive versions, no marker is ever replaced, and the final
    content is exactly base + merge (compaction is content-neutral —
    the change feed's compaction step is EMPTY)."""
    import threading

    import dataframe_expressions_spark.sources.mergetable as mt

    root = str(tmp_path / "tbl")
    # fragmented base: 24 range partitions over 8 modulo buckets ⇒ ~3
    # files per bucket dir, per-file key stats recorded
    from dataframe_expressions_spark.sources.mergetable import (
        commit_bucketed,
    )

    df = spark.createDataFrame(
        [(k, 0.0) for k in range(40)], "k long, val double"
    )
    commit_bucketed(
        df, root, 0, on="k", n_buckets=8, hashed=False,
        stats_key="k", n_files=24,
    )
    results, errors = {}, []
    barrier = threading.Barrier(2)

    def merger():
        try:
            chg = _occ_chg(spark, [0, 8], 5.0)
            barrier.wait(timeout=120)
            results["merge"] = mt.merge_into_bucketed(
                spark, root, chg, meta={"writer": "merge"}, **_OCC_CLAUSES
            )
        except Exception as e:  # noqa: BLE001 - surfaced via the assert
            errors.append(("merge", repr(e)))

    def compacter():
        try:
            barrier.wait(timeout=120)
            results["compact"] = mt.compact_buckets(
                spark, root, max_files=1, meta={"writer": "compact"}
            )
        except Exception as e:  # noqa: BLE001 - surfaced via the assert
            errors.append(("compact", repr(e)))

    with _marker_replacement_sentinel() as attempts:
        threads = [
            threading.Thread(target=merger),
            threading.Thread(target=compacter),
        ]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=300)
    assert not errors, errors
    assert not attempts, attempts
    assert sorted(results.values()) == [1, 2], results
    for tag, n in results.items():
        assert mt.commit_meta(root, n)["writer"] == tag
    # content: base + merge, regardless of landing order
    got = {
        r.k: r.val
        for r in mt.read_bucketed(spark, root).collect()
        if r.val != 0.0
    }
    assert got == {0: 5.0, 8: 5.0}
    assert mt.read_bucketed(spark, root).count() == 40
    # the compaction's OCC metadata chains correctly
    cmeta = mt.commit_meta(root, results["compact"])
    assert set(cmeta["compacted_buckets"]) <= {str(b) for b in range(8)}
    if results["compact"] > results["merge"]:
        # compact landed last: it recomputed from (or rebased onto) the
        # merge — every bucket dir it rewrote is now one file, and the
        # range-skipping stats still cover the whole manifest
        man = cmeta["manifest"]
        for b in cmeta["compacted_buckets"]:
            d = os.path.join(root, man[b])
            n_parquet = sum(
                1 for x in os.listdir(d) if x.endswith(".parquet")
            )
            assert n_parquet == 1, (b, man[b])
    # the change feed sees ONLY the merge's changes: the compaction
    # step diffs as empty (identical content, differing manifests)
    changed = {
        r.k
        for r in mt.feed_since(spark, root, 0).collect()
    }
    assert changed == {0, 8}
    # range skipping still works over the final mixed manifest
    sel = mt.read_bucketed(spark, root, ranges={"k": (0, 4)}).collect()
    assert {r.k for r in sel} == {0, 1, 2, 3, 4}


def test_mor_delete_recomputes_on_intervening_commit(
    spark, tmp_path, monkeypatch
):
    """A MoR delete racing a plain OCC snapshot writer recomputes its
    key set from the new latest: ``mor_base`` records the rival's
    version (never a stale base — the anti-join applies to the version
    directly below), and the delete predicate is evaluated over the
    RIVAL's content."""
    import dataframe_expressions_spark.sources.mergetable as mt

    root = str(tmp_path / "tbl")
    commit_snapshot(
        spark.createDataFrame([(1, 10), (2, -5)], "k long, x long"),
        root, 0,
    )
    fired = {"n": 0}
    orig = mt._claim_slot

    def hooked(root_, base, bmeta, tmp, timeout, policy):
        if fired["n"] == 0:
            fired["n"] += 1
            # rival snapshot lands AFTER our keys were computed from
            # v0, BEFORE our claim — it adds a new negative-x row
            mt.commit_snapshot_exclusive(
                spark.createDataFrame(
                    [(1, 10), (2, -5), (3, -7)], "k long, x long"
                ),
                root_,
            )
        return orig(root_, base, bmeta, tmp, timeout, policy)

    monkeypatch.setattr(mt, "_claim_slot", hooked)
    with _marker_replacement_sentinel() as attempts:
        n = mt.commit_mor_delete(spark, root, "x < 0", on="k")
    assert not attempts, attempts
    assert n == 2 and fired["n"] == 1
    meta = mt.commit_meta(root, 2)
    assert meta["mor_base"] == 1  # recomputed from the rival, not v0
    got = sorted(r.k for r in mt.read_version(spark, root).collect())
    assert got == [1]  # keys 2 AND 3 deleted — the rival's row was seen


# ---------------------------------------------------------------------------
# timestamp time travel (round 12, r11 VERDICT item 3)
# ---------------------------------------------------------------------------


def test_version_as_of_resolution(spark, tmp_path):
    """as_of resolves to the newest commit at-or-before the timestamp:
    mid-gap -> earlier version, exact stamp -> that version, far future
    -> latest, before the first commit -> loud error; n= and as_of=
    together is a contradiction and raises; datetime inputs work."""
    import datetime

    from dataframe_expressions_spark.sources.mergetable import (
        commit_meta,
        read_version,
        version_as_of,
    )

    root = str(tmp_path / "tbl")
    commit_snapshot(
        spark.createDataFrame([(1, "a")], "k long, v string"), root, 0
    )
    commit_snapshot(
        spark.createDataFrame([(1, "b")], "k long, v string"), root, 1
    )
    ts0 = commit_meta(root, 0)["committed_at"]
    ts1 = commit_meta(root, 1)["committed_at"]
    assert ts1 > ts0
    mid = (ts0 + ts1) / 2
    assert version_as_of(root, mid) == 0
    assert version_as_of(root, ts0) == 0
    assert version_as_of(root, ts1) == 1
    assert version_as_of(root, ts1 + 3600) == 1
    with pytest.raises(ValueError, match="at or before"):
        version_as_of(root, ts0 - 1)
    dt = datetime.datetime.fromtimestamp(mid)
    assert version_as_of(root, dt) == 0
    assert [r.v for r in read_version(spark, root, as_of=mid).collect()] == [
        "a"
    ]
    with pytest.raises(ValueError, match="not both"):
        read_version(spark, root, 1, as_of=mid)


def test_version_as_of_prefield_marker_mtime_fallback(spark, tmp_path):
    """Markers written by code predating committed_at resolve through
    the marker file's mtime, and bucketed reads accept as_of too."""
    import json as _json

    from dataframe_expressions_spark.sources.mergetable import (
        commit_bucketed,
        read_bucketed,
        version_as_of,
    )

    root = str(tmp_path / "tbl")
    commit_bucketed(
        spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string"),
        root, 0, on="k", n_buckets=4, hashed=False,
    )
    marker = os.path.join(root, "_commits", "0")
    meta = _json.load(open(marker))
    del meta["committed_at"]  # simulate a pre-field marker
    with open(marker, "w") as fh:
        _json.dump(meta, fh)
    mt = os.path.getmtime(marker)
    assert version_as_of(root, mt + 1) == 0
    got = {r.k: r.v for r in read_bucketed(spark, root, as_of=mt + 1).collect()}
    assert got == {1: "a", 2: "b"}
    with pytest.raises(ValueError, match="not both"):
        read_bucketed(spark, root, 0, as_of=mt + 1)


# ---------------------------------------------------------------------------
# multi-column file statistics (round 12, r11 VERDICT item 4)
# ---------------------------------------------------------------------------


def test_multicol_stats_prune_per_dimension(spark, tmp_path):
    """A Z-ordered snapshot with stats_cols prunes files on EACH
    dimension independently (inputFiles proper subset per dimension)
    and on the conjunction, with exact answers either way."""
    from dataframe_expressions_spark.sources.mergetable import (
        commit_meta,
        commit_snapshot,
        read_version,
    )

    root = str(tmp_path / "tbl")
    rows = [(x, y, x * 64 + y) for x in range(64) for y in range(64)]
    df = spark.createDataFrame(rows, "x long, y long, val long")
    commit_snapshot(
        df, root, 0, n_files=16, stats_cols=["x", "y"], zorder_by=("x", "y")
    )
    sc = commit_meta(root, 0)["file_stats_cols"]
    assert sc["cols"] == ["x", "y"] and len(sc["files"]) == 16
    all_files = set(read_version(spark, root, 0).inputFiles())
    assert len(all_files) == 16

    fx = read_version(spark, root, 0, ranges={"x": (0, 15)})
    assert set(fx.inputFiles()) < all_files  # dimension 1 prunes
    assert fx.count() == 16 * 64

    fy = read_version(spark, root, 0, ranges={"y": (0, 15)})
    assert set(fy.inputFiles()) < all_files  # dimension 2 prunes
    assert fy.count() == 64 * 16

    fxy = read_version(
        spark, root, 0, ranges={"x": (0, 15), "y": (0, 15)}
    )
    assert set(fxy.inputFiles()) <= set(fx.inputFiles()) & set(
        fy.inputFiles()
    )
    got = sorted(r.val for r in fxy.collect())
    assert got == sorted(
        x * 64 + y for x in range(16) for y in range(16)
    )
    # empty intersection with the domain: exact empty, footer-only plan
    assert (
        read_version(spark, root, 0, ranges={"x": (1000, 2000)}).count()
        == 0
    )


def test_multicol_stats_guardrails(spark, tmp_path):
    """ranges= refuses: tables without stats_cols, unknown columns,
    and type-mismatched bounds."""
    from dataframe_expressions_spark.sources.mergetable import (
        commit_snapshot,
        read_version,
    )

    root = str(tmp_path / "tbl")
    df = spark.createDataFrame(
        [(x, x * 2) for x in range(100)], "x long, y long"
    )
    commit_snapshot(df, root, 0, n_files=4, stats_cols=["x"])
    with pytest.raises(ValueError, match="no recorded"):
        read_version(spark, root, 0, ranges={"y": (0, 5)})
    with pytest.raises(ValueError, match="stats type"):
        read_version(spark, root, 0, ranges={"x": ("a", "b")}).collect()

    root2 = str(tmp_path / "tbl2")
    commit_snapshot(df, root2, 0, n_files=4)
    with pytest.raises(ValueError, match="stats_cols"):
        read_version(spark, root2, 0, ranges={"x": (0, 5)})
    with pytest.raises(ValueError, match="exactly two"):
        commit_snapshot(df, str(tmp_path / "t3"), 0, zorder_by=("x",))
    with pytest.raises(ValueError, match="exclusive"):
        commit_snapshot(
            df, str(tmp_path / "t4"), 0, zorder_by=("x", "y"),
            stats_key="x",
        )


def test_bucketed_multicol_zorder_prune_and_carry(spark, tmp_path):
    """BUCKETED tables 2-d skip (round 13, r12 VERDICT item 2): a
    bucketed commit with within-bucket Z-order + stats_cols prunes
    files per dimension (inputFiles proper subset) and on the
    conjunction; a bucket-scoped MERGE rewrites its bucket in the
    preserved layout, refreshes its stats and carries the other
    buckets' recorded entries; RESTORE and SHALLOW CLONE carry
    ``file_stats_cols`` so conjunction reads survive both."""
    import dataframe_expressions_spark.sources.mergetable as mt

    root = str(tmp_path / "tbl")
    rows = [(k, k % 64, (k // 64) % 64, 0.0) for k in range(4096)]
    df = spark.createDataFrame(rows, "k long, x long, y long, val double")
    mt.commit_bucketed(
        df, root, 0, on="k", n_buckets=4, hashed=False, n_files=32,
        stats_cols=["x", "y"], zorder_by=("x", "y"),
    )
    spec = mt.commit_meta(root, 0)["bucket"]
    assert spec["stats_cols"] == ["x", "y"]
    assert spec["zorder_by"] == ["x", "y"]
    sc = mt.commit_meta(root, 0)["file_stats_cols"]
    assert sc["cols"] == ["x", "y"]
    all_files = set(mt.read_bucketed(spark, root, 0).inputFiles())
    assert len(all_files) >= 8  # multiple files per bucket dir

    fx = mt.read_bucketed(spark, root, 0, ranges={"x": (0, 15)})
    assert set(fx.inputFiles()) < all_files  # dimension 1 prunes
    assert fx.count() == 1024
    fy = mt.read_bucketed(spark, root, 0, ranges={"y": (0, 15)})
    assert set(fy.inputFiles()) < all_files  # dimension 2 prunes
    assert fy.count() == 1024
    fxy = mt.read_bucketed(
        spark, root, 0, ranges={"x": (0, 15), "y": (0, 15)}
    )
    assert set(fxy.inputFiles()) <= set(fx.inputFiles()) & set(
        fy.inputFiles()
    )
    got = sorted(r.k for r in fxy.collect())
    assert got == sorted(
        k for k in range(4096) if k % 64 < 16 and (k // 64) % 64 < 16
    )

    # bucket-scoped MERGE: keys {1, 5, 9} all bucket to 1 (k mod 4);
    # the rewritten bucket refreshes stats, the others carry forward
    src = spark.createDataFrame(
        [(1, 1.0), (5, 1.0), (9, 1.0)], "k long, amt double"
    )
    mt.merge_into_bucketed(
        spark, root, src,
        matched_update={"val": "t.val + s.amt"},
        not_matched_insert={"val": "s.amt"},
    )
    m1 = mt.commit_meta(root, 1)
    assert m1["touched_buckets"] == ["1"]
    covered = {
        rel.rsplit("/", 1)[0] for rel in m1["file_stats_cols"]["files"]
    }
    assert covered == set(m1["manifest"].values())  # every dir covered
    post = mt.read_bucketed(
        spark, root, ranges={"x": (0, 15), "y": (0, 15)}
    )
    assert {r.k for r in post.collect() if r.val == 1.0} == {1, 5, 9}
    assert post.count() == 256
    post_all = set(mt.read_bucketed(spark, root).inputFiles())
    post_x = mt.read_bucketed(spark, root, ranges={"x": (0, 15)})
    assert set(post_x.inputFiles()) < post_all  # still prunes post-merge

    # RESTORE carries file_stats_cols: ranges reads work on the new
    # latest and the content reverts
    rn = mt.restore_table(spark, root, 0)
    rv = mt.read_bucketed(
        spark, root, rn, ranges={"x": (0, 15), "y": (0, 15)}
    )
    assert rv.count() == 256
    assert [r for r in rv.collect() if r.val != 0.0] == []

    # SHALLOW CLONE re-paths the multi-column stats into the clone's
    # manifest namespace: conjunction reads work against the clone
    dst = str(tmp_path / "clone")
    mt.clone_shallow(root, dst, n=1)
    cv = mt.read_bucketed(
        spark, dst, ranges={"x": (0, 15), "y": (0, 15)}
    )
    assert cv.count() == 256
    assert {r.k for r in cv.collect() if r.val == 1.0} == {1, 5, 9}

    # guardrails mirror the plain-table surface
    with pytest.raises(ValueError, match="exactly two"):
        mt.commit_bucketed(
            df, str(tmp_path / "t5"), 0, on="k", n_buckets=4,
            hashed=False, zorder_by=("x",),
        )
    with pytest.raises(ValueError, match="exclusive"):
        mt.commit_bucketed(
            df, str(tmp_path / "t6"), 0, on="k", n_buckets=4,
            hashed=False, zorder_by=("x", "y"), stats_key="x",
        )
    root2 = str(tmp_path / "nostats")
    mt.commit_bucketed(df, root2, 0, on="k", n_buckets=4, hashed=False)
    with pytest.raises(ValueError, match="stats_cols"):
        mt.read_bucketed(spark, root2, ranges={"x": (0, 5)})


def test_occ_merge_skips_dead_claimant_orphan(spark, tmp_path):
    """A marker-less v<n> dir from a crashed claimant must not wedge
    OCC merges: after marker_timeout the claimant is declared dead and
    its slot FENCED (so a merely-stalled claimant's late publish fails
    loudly instead of landing silently), the merge commits past it,
    and base_version records the newest COMMITTED version — not the
    fenced number.  Vacuum sweeps the orphan dir once superseded+aged
    but keeps the fence MARKER permanently (round 13)."""
    import dataframe_expressions_spark.sources.mergetable as mt

    root = str(tmp_path / "tbl")
    _mk_occ_base(spark, root)
    os.makedirs(os.path.join(root, "v1"))  # dead claimant's orphan
    n = mt.merge_into_bucketed(
        spark, root, _occ_chg(spark, [0], 5.0),
        marker_timeout=0.3, **_OCC_CLAUSES,
    )
    assert n == 2
    meta = mt.commit_meta(root, 2)
    assert meta["base_version"] == 0  # NOT 1 (fenced orphan)
    assert meta["read_base"] == 0
    assert mt.latest_version(root) == 2
    # the slot is FENCED, not merely skipped: the tombstone marker
    # blocks the claimant's late publish (FileExistsError on its
    # if-absent link) and is invisible to every reader
    assert mt._is_fence_marker(root, 1)
    assert mt.committed_versions(root) == [0, 2]
    with pytest.raises(FileNotFoundError, match="fence"):
        mt.commit_meta(root, 1)
    with pytest.raises(FileNotFoundError):
        mt.read_version(spark, root, 1)
    late = os.path.join(root, "_commits", "1.late")
    with open(late, "w") as fh:
        fh.write("{}")
    with pytest.raises(FileExistsError):
        os.link(late, os.path.join(root, "_commits", "1"))
    os.unlink(late)
    # the feed spans the fenced gap (consecutive committed pairs)
    stamps = {
        r._commit_version
        for r in mt.feed_since(spark, root, 0, on="k").collect()
    }
    assert stamps == {2}
    got = {
        r.k: r.val
        for r in mt.read_bucketed(spark, root).collect()
        if r.val != 0.0
    }
    assert got == {0: 5.0}
    assert not [x for x in os.listdir(root) if x.startswith(".tmp")]
    # the orphan is still invisible and sweepable once aged: fake age
    # by back-dating every committed marker's committed_at
    import json as _json

    for m in ("0", "2"):
        p = os.path.join(root, "_commits", m)
        d = _json.load(open(p))
        d["committed_at"] -= 7200
        with open(p, "w") as fh:
            _json.dump(d, fh)
    mt.vacuum(root, keep=10)
    assert not os.path.isdir(os.path.join(root, "v1"))  # finally swept
    # the fence MARKER is permanent (round 13, r12 ADVICE): were vacuum
    # to unlink it, a claimant stalled past the horizon could if-absent
    # link its marker into the re-opened slot and report success for a
    # version whose data was just deleted — the lost update the fence
    # exists to prevent.  A late publish must STILL fail after vacuum:
    assert mt._is_fence_marker(root, 1)
    late2 = os.path.join(root, "_commits", "1.late2")
    with open(late2, "w") as fh:
        fh.write("{}")
    with pytest.raises(FileExistsError):
        os.link(late2, os.path.join(root, "_commits", "1"))
    os.unlink(late2)
    # and the fenced slot stays invisible to every reader
    assert mt.committed_versions(root) == [0, 2]


def test_merge_never_clears_a_live_rivals_unpublished_snapshot(
    spark, tmp_path, monkeypatch
):
    """A rival that has claimed v1 and written its snapshot but not yet
    published its marker is alive, not crashed: a bucketed MERGE
    arriving in that window must await the rival's marker, then rebase
    past it (disjoint write-sets) — never delete the rival's v1 data.
    The rival's commit survives and both changes are in the latest
    version."""
    import threading

    import dataframe_expressions_spark.sources.mergetable as mt
    from pyspark.sql import functions as F  # noqa: N812

    root = str(tmp_path / "tbl")
    _mk_occ_base(spark, root)
    base = mt.commit_meta(root, 0)
    # the live rival: claim v1, write its rewrite of bucket 1 (keys 1
    # and 9 += 7), marker not yet published
    assert mt._try_claim(root, 1)
    spark.createDataFrame(
        [(k, 7.0 if k in (1, 9) else 0.0) for k in range(1, 40, 8)],
        "k long, val double",
    ).withColumn("_mt_bucket", F.expr("pmod(k, 8)")).write.partitionBy(
        "_mt_bucket"
    ).parquet(os.path.join(root, "v1"))
    awaiting = threading.Event()
    real_await = mt._await_commit_meta

    def await_spy(root_, m, timeout):
        if m == 1:
            awaiting.set()
        return real_await(root_, m, timeout)

    monkeypatch.setattr(mt, "_await_commit_meta", await_spy)
    results, errors = {}, []

    def merge():
        try:
            results["n"] = mt.merge_into_bucketed(
                spark, root, _occ_chg(spark, [0, 8], 5.0),
                marker_timeout=120.0, **_OCC_CLAUSES,
            )
        except Exception as e:  # noqa: BLE001 - surfaced via the assert
            errors.append(repr(e))

    t = threading.Thread(target=merge)
    t.start()
    awaiting.wait(timeout=120)
    # the rival publishes while the merge awaits its marker
    mt._write_marker(root, 1, {
        "manifest": {**base["manifest"], "1": "v1/_mt_bucket=1"},
        "bucket": base["bucket"],
        "base_version": 0,
        "read_base": 0,
        "touched_buckets": ["1"],
    })
    t.join(timeout=300)
    assert not errors, errors
    assert results == {"n": 2}
    assert mt.committed_versions(root) == [0, 1, 2]
    assert mt.commit_meta(root, 2)["base_version"] == 1
    rival = {
        r.k: r.val
        for r in mt.read_bucketed(spark, root, 1).collect()
        if r.val != 0.0
    }
    assert rival == {1: 7.0, 9: 7.0}  # the rival's v1 data survived
    got = {
        r.k: r.val
        for r in mt.read_bucketed(spark, root).collect()
        if r.val != 0.0
    }
    assert got == {0: 5.0, 8: 5.0, 1: 7.0, 9: 7.0}  # no lost update


def test_feed_since_spans_version_gaps(spark, tmp_path):
    """The version sequence may have GAPS (skipped dead-claimant OCC
    orphans, vacuum's MoR chain promotion): feed_since pairs
    consecutive COMMITTED versions — a gap's changes fold into the
    surrounding pair's diff and the cumulative feed identity holds; a
    non-committed BASE version raises (an exact feed from it cannot be
    produced)."""
    from dataframe_expressions_spark.sources.mergetable import (
        committed_versions,
        feed_since,
    )

    root = str(tmp_path / "tbl")
    commit_snapshot(
        spark.createDataFrame([(1, 10)], "k long, x long"), root, 0
    )
    commit_snapshot(
        spark.createDataFrame([(1, 11)], "k long, x long"), root, 1
    )
    os.makedirs(os.path.join(root, "v2"))  # dead claimant's orphan
    commit_snapshot(
        spark.createDataFrame([(1, 13), (2, 1)], "k long, x long"), root, 3
    )
    assert committed_versions(root) == [0, 1, 3]
    rows = sorted(
        (r.k, r.x, r.change_type, r._commit_version)
        for r in feed_since(spark, root, 0, on="k").collect()
    )
    assert rows == [
        (1, 10, "update_preimage", 1),
        (1, 11, "update_postimage", 1),
        (1, 11, "update_preimage", 3),
        (1, 13, "update_postimage", 3),
        (2, 1, "insert", 3),
    ]
    with pytest.raises(FileNotFoundError, match="not committed"):
        feed_since(spark, root, 2, on="k")


# ---------------------------------------------------------------------------
# RESTORE and SHALLOW CLONE (round 12)
# ---------------------------------------------------------------------------


def test_restore_bucketed_is_metadata_only_and_auditable(spark, tmp_path):
    """Bucketed RESTORE commits a new version whose manifest IS the
    target's (zero data copied), content reverts exactly, the mistake
    version stays time-travelable, and a later merge chains on top of
    the restored state."""
    import dataframe_expressions_spark.sources.mergetable as mt

    root = str(tmp_path / "tbl")
    _mk_occ_base(spark, root)
    mt.merge_into_bucketed(
        spark, root, _occ_chg(spark, [0, 8], 5.0), **_OCC_CLAUSES
    )
    n = mt.restore_table(spark, root, 0)
    assert n == 2
    m2, m0 = mt.commit_meta(root, 2), mt.commit_meta(root, 0)
    assert m2["manifest"] == m0["manifest"]  # by-reference, zero copy
    assert m2["restored_from"] == 0 and m2["op"] == "restore"
    assert not [
        f
        for f in os.listdir(os.path.join(root, "v2"))
        if f.endswith(".parquet")
    ]  # no data written
    got = {r.k: r.val for r in mt.read_bucketed(spark, root, 2).collect()}
    assert got == {k: 0.0 for k in range(40)}  # v0 content exact
    # the mistake is still auditable
    got1 = {r.k: r.val for r in mt.read_bucketed(spark, root, 1).collect()}
    assert got1[0] == 5.0 and got1[8] == 5.0
    # history continues on the restored state
    mt.merge_into_bucketed(
        spark, root, _occ_chg(spark, [1], 7.0), **_OCC_CLAUSES
    )
    got3 = {r.k: r.val for r in mt.read_bucketed(spark, root, 3).collect()}
    assert got3[0] == 0.0 and got3[1] == 7.0  # mistake gone, merge in
    # vacuum keeps v0's files while the restore references them
    mt.vacuum(root, keep=2)  # keeps v2 (restore) and v3
    got2 = {r.k: r.val for r in mt.read_bucketed(spark, root, 2).collect()}
    assert got2 == {k: 0.0 for k in range(40)}


def test_restore_plain_table_copies_and_mor_raises(spark, tmp_path):
    """Plain tables restore as an honest re-snapshot; MoR targets
    raise with a pointer to compact_mor."""
    import dataframe_expressions_spark.sources.mergetable as mt

    root = str(tmp_path / "plain")
    mt.commit_snapshot(
        spark.createDataFrame([(1, "a")], "k long, v string"), root, 0
    )
    mt.commit_snapshot(
        spark.createDataFrame([(1, "b")], "k long, v string"), root, 1
    )
    n = mt.restore_table(spark, root, 0)
    assert n == 2
    assert [r.v for r in mt.read_version(spark, root, 2).collect()] == ["a"]
    # stats specs carry through a plain restore so skipping survives
    roots = str(tmp_path / "stats")
    mt.commit_snapshot(
        spark.createDataFrame([(k, k * 2) for k in range(100)],
                              "k long, y long"),
        roots, 0, n_files=4, stats_key="k", stats_cols=["y"],
    )
    mt.commit_snapshot(
        spark.createDataFrame([(1, 1)], "k long, y long"), roots, 1,
    )
    n2 = mt.restore_table(spark, roots, 0)
    pruned = mt.read_version(spark, roots, n2, ranges={"k": (10, 20)})
    assert pruned.count() == 11 and len(pruned.inputFiles()) < 4
    assert mt.read_version(
        spark, roots, n2, ranges={"y": (0, 10)}
    ).count() == 6
    # a MoR delete version restores via the RESOLVED content (the
    # anti-join chain is materialized by the honest-copy path)
    mt.commit_mor_delete(spark, root, "k = 1", on="k")
    n2 = mt.restore_table(spark, root, 3)
    assert mt.read_version(spark, root, n2).count() == 0  # all deleted


def test_clone_shallow_forks_without_touching_source(spark, tmp_path):
    """A shallow clone is one marker: its manifest references the
    source's physical files; merges into the clone rewrite only their
    touched buckets under the CLONE root, the source is bit-for-bit
    unaffected, and clone-side vacuum never sweeps source files."""
    import dataframe_expressions_spark.sources.mergetable as mt

    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    _mk_occ_base(spark, src)
    mt.merge_into_bucketed(
        spark, src, _occ_chg(spark, [0], 5.0), **_OCC_CLAUSES
    )
    assert mt.clone_shallow(src, dst) == 0
    cmeta = mt.commit_meta(dst, 0)
    assert cmeta["op"] == "clone-shallow"
    assert cmeta["cloned_from"]["version"] == 1
    # every manifest entry resolves to a path under the SOURCE
    for rel in cmeta["manifest"].values():
        assert os.path.realpath(os.path.join(dst, rel)).startswith(
            os.path.realpath(src)
        )
    # clone content == source content at the fork
    src_rows = sorted(
        tuple(r) for r in mt.read_bucketed(spark, src).collect()
    )
    assert (
        sorted(tuple(r) for r in mt.read_bucketed(spark, dst).collect())
        == src_rows
    )
    # diverge the clone; source must not move
    src_latest = mt.latest_version(src)
    mt.merge_into_bucketed(
        spark, dst, _occ_chg(spark, [1], 7.0), **_OCC_CLAUSES
    )
    assert mt.latest_version(src) == src_latest
    assert (
        sorted(tuple(r) for r in mt.read_bucketed(spark, src).collect())
        == src_rows
    )
    got = {r.k: r.val for r in mt.read_bucketed(spark, dst).collect()}
    assert got[0] == 5.0 and got[1] == 7.0
    # clone vacuum is safe: source files survive
    mt.vacuum(dst, keep=1)
    assert (
        sorted(tuple(r) for r in mt.read_bucketed(spark, src).collect())
        == src_rows
    )
    # guardrails
    with pytest.raises(ValueError, match="already has commits"):
        mt.clone_shallow(src, dst)
    plain = str(tmp_path / "plain")
    mt.commit_snapshot(
        spark.createDataFrame([(1,)], "k long"), plain, 0
    )
    with pytest.raises(ValueError, match="bucketed source"):
        mt.clone_shallow(plain, str(tmp_path / "dst2"))


def test_fence_race_lost_reads_rival_like_normal(spark, tmp_path,
                                                 monkeypatch):
    """If the claimant publishes its marker in the window between the
    await timeout and the fence link, the fence LOSES the if-absent
    race and the OCC writer must fall back to reading the rival's
    marker like any other — rebasing on a disjoint write-set rather
    than fencing a live commit."""
    import dataframe_expressions_spark.sources.mergetable as mt

    root = str(tmp_path / "tbl")
    _mk_occ_base(spark, root)
    # a rival's claimed-but-unpublished snapshot at v1, bucket 1 only
    rv = spark.createDataFrame([(1, 7.0)], "k long, amt double")
    mt.merge_into_bucketed(spark, root, rv, **_OCC_CLAUSES)
    marker1 = os.path.join(root, "_commits", "1")
    stash = marker1 + ".stash"
    os.rename(marker1, stash)  # marker "not yet published"

    orig_await = mt._await_commit_meta

    def timeout_then_publish(root_, m, timeout):
        got = orig_await(root_, m, 0.2)
        if got is None and os.path.exists(stash):
            os.rename(stash, marker1)  # rival publishes JUST in time
        return got

    monkeypatch.setattr(mt, "_await_commit_meta", timeout_then_publish)
    n = mt.merge_into_bucketed(
        spark, root, _occ_chg(spark, [0], 5.0),
        marker_timeout=0.2, **_OCC_CLAUSES,
    )
    assert n == 2
    assert not mt._is_fence_marker(root, 1)  # the live commit survived
    assert mt.committed_versions(root) == [0, 1, 2]
    got = {
        r.k: r.val
        for r in mt.read_bucketed(spark, root).collect()
        if r.val != 0.0
    }
    assert got == {0: 5.0, 1: 7.0}  # both writers present (rebase)
    assert mt.commit_meta(root, 2)["base_version"] == 1


def test_change_feed_across_restore_emits_the_revert(spark, tmp_path):
    """A RESTORE is an ordinary commit to the feed: consumers see the
    revert as changes (Delta CDF semantics), so downstream state
    maintained by signed deltas tracks the restored table exactly."""
    import dataframe_expressions_spark.sources.mergetable as mt

    root = str(tmp_path / "tbl")
    _mk_occ_base(spark, root, n_keys=8)
    mt.merge_into_bucketed(
        spark, root, _occ_chg(spark, [0, 21], 5.0), **_OCC_CLAUSES
    )
    mt.restore_table(spark, root, 0)
    rows = sorted(
        (r.k, r.val, r.change_type, r._commit_version)
        for r in mt.feed_since(spark, root, 0, on="k").collect()
    )
    assert rows == sorted([
        (0, 0.0, "update_preimage", 1),
        (0, 0.0, "update_postimage", 2),   # revert back to v0 value
        (0, 5.0, "update_postimage", 1),
        (0, 5.0, "update_preimage", 2),
        (21, 5.0, "insert", 1),
        (21, 5.0, "delete", 2),            # the v1 insert is reverted
    ])
    # the signed-delta fold over the whole feed nets to ZERO — the
    # materialized-view identity holds across the restore
    import collections

    net = collections.Counter()
    for k, val, ct, _ in rows:
        sign = 1 if ct in ("insert", "update_postimage") else -1
        net[k] += sign * val
    assert all(abs(v) < 1e-12 for v in net.values())


def test_vacuum_keeps_registered_clone_references(spark, tmp_path):
    """Clone-aware source retention (round 13, r12 VERDICT item 5):
    source-side vacuum keeps every dir a REACHABLE registered clone's
    kept manifests reference — transitively through clones of clones
    — while an UNREACHABLE clone root (the documented residual risk)
    protects nothing."""
    import dataframe_expressions_spark.sources.mergetable as mt

    def build(src):
        df = spark.createDataFrame(
            [(k, 0.0) for k in range(16)], "k long, val double"
        )
        mt.commit_bucketed(df, src, 0, on="k", n_buckets=4, hashed=False)
        mt.merge_into_bucketed(  # v1 rewrites bucket 0 only
            spark, src,
            spark.createDataFrame([(0, 5.0)], "k long, amt double"),
            matched_update={"val": "t.val + s.amt"},
            not_matched_insert={"val": "s.amt"},
        )

    # scenario A: live registered clone chain protects the fork point
    src = str(tmp_path / "src")
    build(src)
    c1 = str(tmp_path / "c1")
    mt.clone_shallow(src, c1, n=0)  # clone AT v0: references all v0 dirs
    c2 = str(tmp_path / "c2")
    mt.clone_shallow(c1, c2)  # grandclone registers at c1, refs src dirs
    reg = open(os.path.join(src, "_clones")).read().splitlines()
    assert reg == [os.path.abspath(c1)]
    dropped = mt.vacuum(src, keep=1)
    assert dropped == [0]
    # bucket 0's v0 dir is referenced ONLY by the clones (src's v1
    # manifest rewrote it) — clone-aware vacuum keeps it
    assert os.path.isdir(os.path.join(src, "v0", "_mt_bucket=0"))
    got1 = {r.k: r.val for r in mt.read_bucketed(spark, c1).collect()}
    got2 = {r.k: r.val for r in mt.read_bucketed(spark, c2).collect()}
    assert got1 == {k: 0.0 for k in range(16)}  # pristine fork content
    assert got2 == got1

    # scenario B: the same layout with the clone root MOVED AWAY before
    # vacuum — unreachable registry line protects nothing (residual
    # risk documented in clone_shallow/_registered_clone_refs)
    src2 = str(tmp_path / "src2")
    build(src2)
    c3 = str(tmp_path / "c3")
    mt.clone_shallow(src2, c3, n=0)
    os.rename(c3, str(tmp_path / "c3_moved"))
    mt.vacuum(src2, keep=1)
    assert not os.path.isdir(os.path.join(src2, "v0", "_mt_bucket=0"))
    # src2's own latest is intact either way
    got = {r.k: r.val for r in mt.read_bucketed(spark, src2).collect()}
    assert got[0] == 5.0 and len(got) == 16


def test_single_writer_paths_respect_fences(spark, tmp_path):
    """Permanent fences (round 13) must be honored by the SINGLE-WRITER
    numbered paths too (round-13 review): commit_snapshot /
    commit_bucketed raise on a fenced slot instead of silently reading
    the fence as 'already committed' (the caller's data would never
    land), _write_marker refuses to replace a fence outright, and
    merge_into_bucketed's claim loop skips fenced slots above latest."""
    import dataframe_expressions_spark.sources.mergetable as mt

    # plain table: fence at slot 1 (a fencer that crashed before its
    # own commit landed, so latest stays 0)
    root = str(tmp_path / "plain")
    df = spark.createDataFrame([(1, 10)], "k long, x long")
    commit_snapshot(df, root, 0)
    assert mt._publish_fence(root, 1)
    with pytest.raises(RuntimeError, match="retired"):
        commit_snapshot(df, root, 1)
    with pytest.raises(RuntimeError, match="retired"):
        mt._write_marker(root, 1, {})
    # the fence marker's content is untouched by the refused attempts
    assert mt._is_fence_marker(root, 1)
    commit_snapshot(df, root, 2)  # next free slot works
    assert mt.committed_versions(root) == [0, 2]

    # bucketed table: merge_into_bucketed skips the fenced slot
    rootb = str(tmp_path / "bucketed")
    _mk_occ_base(spark, rootb)
    assert mt._publish_fence(rootb, 1)
    # a dead claimant's orphan data under the fenced slot must never
    # be adopted
    os.makedirs(os.path.join(rootb, "v1"), exist_ok=True)
    n = mt.merge_into_bucketed(
        spark, rootb, _occ_chg(spark, [0], 5.0), **_OCC_CLAUSES
    )
    assert n == 2
    assert mt._is_fence_marker(rootb, 1)
    got = {
        r.k: r.val
        for r in mt.read_bucketed(spark, rootb).collect()
        if r.val != 0.0
    }
    assert got == {0: 5.0}
    with pytest.raises(RuntimeError, match="retired"):
        mt.commit_bucketed(
            spark.createDataFrame([(1, 0.0)], "k long, val double"),
            rootb, 1, on="k", n_buckets=8, hashed=False,
        )


def test_optimize_zorder_makes_ranges_selective(spark, tmp_path):
    """OPTIMIZE ZORDER (round 13): an arrival-ordered plain table
    cannot ranges-read at all; after optimize_zorder the content is
    IDENTICAL (empty change-feed step), both dimensions prune
    (inputFiles proper subset), MoR chains resolve into the rewrite,
    and a rival commit mid-claim forces a recompute — never a
    replaced marker."""
    import dataframe_expressions_spark.sources.mergetable as mt

    root = str(tmp_path / "tbl")
    rows = [(k, k % 64, (k // 64) % 64, float(k)) for k in range(4096)]
    import random

    rng = random.Random(13)
    rng.shuffle(rows)  # arrival order: interleaved on both dims
    df = spark.createDataFrame(rows, "k long, x long, y long, val double")
    commit_snapshot(df, root, 0, n_files=16)
    with pytest.raises(ValueError, match="stats_cols"):
        read_version(spark, root, 0, ranges={"x": (0, 15)})
    # MoR delete folds into the optimize rewrite
    mt.commit_mor_delete(spark, root, "k >= 4090", on="k")  # v1
    with _marker_replacement_sentinel() as attempts:
        n = mt.optimize_zorder(spark, root, ("x", "y"), n_files=16)
    assert not attempts
    assert n == 2
    meta = mt.commit_meta(root, 2)
    assert meta["op"] == "optimize_zorder"
    assert meta["zordered_from"] == 1
    # content identical to the resolved pre-state: the feed step from
    # the MoR version to the optimized version is EMPTY
    assert mt.feed_since(spark, root, 1, on="k").count() == 0
    assert read_version(spark, root, 2).count() == 4090
    all_files = set(read_version(spark, root, 2).inputFiles())
    fx = read_version(spark, root, 2, ranges={"x": (0, 15)})
    fy = read_version(spark, root, 2, ranges={"y": (0, 15)})
    assert set(fx.inputFiles()) < all_files
    assert set(fy.inputFiles()) < all_files
    fxy = read_version(
        spark, root, 2, ranges={"x": (0, 15), "y": (0, 15)}
    )
    got = sorted(r.k for r in fxy.collect())
    assert got == sorted(
        k for k in range(4090) if k % 64 < 16 and (k // 64) % 64 < 16
    )
    # guardrails: bucketed tables refuse; bad column; two cols exactly
    with pytest.raises(ValueError, match="exactly two"):
        mt.optimize_zorder(spark, root, ("x",))
    with pytest.raises(ValueError, match="not on the table"):
        mt.optimize_zorder(spark, root, ("x", "nope"))
    rootb = str(tmp_path / "bucketed")
    _mk_occ_base(spark, rootb)
    with pytest.raises(ValueError, match="bucketed"):
        mt.optimize_zorder(spark, rootb, ("k", "val"))


def test_optimize_zorder_recomputes_on_rival(spark, tmp_path, monkeypatch):
    """A rival snapshot landing between the optimize rewrite and its
    claim forces a recompute from the new latest — the optimized
    version reflects the RIVAL's content, and zordered_from records
    it."""
    import dataframe_expressions_spark.sources.mergetable as mt

    root = str(tmp_path / "tbl")
    commit_snapshot(
        spark.createDataFrame(
            [(1, 1, 1), (2, 2, 2)], "k long, x long, y long"
        ),
        root, 0, n_files=1,
    )
    fired = {"n": 0}
    orig = mt._claim_slot

    def hooked(root_, base, bmeta, tmp, timeout, policy):
        if fired["n"] == 0:
            fired["n"] += 1
            mt.commit_snapshot_exclusive(
                spark.createDataFrame(
                    [(1, 1, 1), (2, 2, 2), (3, 3, 3)],
                    "k long, x long, y long",
                ),
                root_,
            )
        return orig(root_, base, bmeta, tmp, timeout, policy)

    monkeypatch.setattr(mt, "_claim_slot", hooked)
    n = mt.optimize_zorder(spark, root, ("x", "y"), n_files=1)
    assert n == 2 and fired["n"] == 1
    meta = mt.commit_meta(root, 2)
    assert meta["zordered_from"] == 1  # recomputed from the rival
    assert read_version(spark, root, 2).count() == 3  # rival's row seen


def test_occ_three_way_maintenance_race(spark, tmp_path):
    """Capstone for the round-13 protocol: a MERGE, a compaction and a
    RESTORE all racing in genuinely concurrent threads.  Every op must
    either commit or raise MergeConflictError loudly (bounded
    retries); committed versions are consecutive-distinct; no
    published marker is ever replaced; and the final latest is
    CONSISTENT — exactly the fold of the committed ops in version
    order (restore-last ⇒ v0 content; merge after restore ⇒ restore +
    merge; compaction never changes content)."""
    import threading

    import dataframe_expressions_spark.sources.mergetable as mt

    root = str(tmp_path / "tbl")
    df = spark.createDataFrame(
        [(k, 0.0) for k in range(40)], "k long, val double"
    )
    mt.commit_bucketed(
        df, root, 0, on="k", n_buckets=8, hashed=False,
        stats_key="k", n_files=24,
    )
    results, errors = {}, []
    barrier = threading.Barrier(3)

    def run(tag, fn):
        try:
            barrier.wait(timeout=120)
            results[tag] = fn()
        except mt.MergeConflictError as e:
            errors.append((tag, "conflict", repr(e)))  # loud is legal
        except Exception as e:  # noqa: BLE001 - surfaced via asserts
            errors.append((tag, "error", repr(e)))

    ops = [
        ("merge", lambda: mt.merge_into_bucketed(
            spark, root, _occ_chg(spark, [0, 8], 5.0),
            meta={"writer": "merge"}, **_OCC_CLAUSES)),
        ("compact", lambda: mt.compact_buckets(
            spark, root, max_files=1, meta={"writer": "compact"})),
        ("restore", lambda: mt.restore_table(
            spark, root, 0, meta={"writer": "restore"})),
    ]
    with _marker_replacement_sentinel() as attempts:
        threads = [
            threading.Thread(target=run, args=(tag, fn))
            for tag, fn in ops
        ]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=600)
        assert not any(t.is_alive() for t in threads)
    assert not attempts, attempts
    hard = [e for e in errors if e[1] == "error"]
    assert not hard, hard
    # every committed op landed at a distinct version with ITS marker
    assert len(set(results.values())) == len(results)
    for tag, n in results.items():
        assert mt.commit_meta(root, n)["writer"] == tag, (tag, n)
    # fold the committed ops in version order to predict final content
    expect = {k: 0.0 for k in range(40)}
    for tag, _n in sorted(results.items(), key=lambda kv: kv[1]):
        if tag == "merge":
            expect[0] = expect[0] + 5.0
            expect[8] = expect[8] + 5.0
        elif tag == "restore":
            expect = {k: 0.0 for k in range(40)}
        # compact: content-neutral
    got = {r.k: r.val for r in mt.read_bucketed(spark, root).collect()}
    assert got == expect, (results, errors)
    # history stays auditable: each committed op time-travels
    for tag, n in results.items():
        assert mt.read_bucketed(spark, root, n).count() == 40
    # range skipping still works over whatever manifest mix landed
    sel = {r.k for r in mt.read_bucketed(
        spark, root, ranges={"k": (0, 4)}).collect()}
    assert sel == {0, 1, 2, 3, 4}


# ---------------------------------------------------------------------------
# reader vs vacuum grace contract (round 14, r13 VERDICT item 3)
# ---------------------------------------------------------------------------


def test_reader_vs_vacuum_grace_contract(spark, tmp_path):
    """A reader racing a concurrent retention vacuum must either
    succeed or fail LOUDLY — never return wrong data — and once a
    version is swept, resolving it raises VersionVacuumedError carrying
    the tombstone horizon (not a bare not-committed).  Barrier-raced
    like the r13 maintenance tests: the reader resolves version 0 to a
    DataFrame BEFORE the sweep, then collects while vacuum deletes it."""
    import threading

    import dataframe_expressions_spark.sources.mergetable as mt

    root = str(tmp_path / "tbl")
    for n in range(3):
        commit_snapshot(
            spark.createDataFrame(
                [(k, n) for k in range(200)], "k long, ver long"
            ),
            root,
            n,
            n_files=8,
        )
    outcomes, errors = {}, []
    barrier = threading.Barrier(2)

    def reader():
        try:
            df = read_version(spark, root, 0)  # resolved pre-sweep
            barrier.wait(timeout=60)
            rows = df.collect()  # races the sweep
            outcomes["reader"] = {(r.k, r.ver) for r in rows}
        except BaseException as e:  # noqa: BLE001 - loud is the contract
            outcomes["reader"] = e

    def sweeper():
        try:
            barrier.wait(timeout=60)
            outcomes["dropped"] = mt.vacuum(root, keep=1)
        except Exception as e:  # noqa: BLE001 - surfaced via the assert
            errors.append(repr(e))

    threads = [threading.Thread(target=reader),
               threading.Thread(target=sweeper)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=120)
    assert not errors, errors
    assert outcomes["dropped"] == [0, 1]
    got = outcomes["reader"]
    if isinstance(got, set):
        # the reader won the race: it must have read the REAL v0
        assert got == {(k, 0) for k in range(200)}
    else:
        # the reader lost: loudly, with an exception — never silently
        # partial data (Spark surfaces the missing files it resolved)
        assert isinstance(got, BaseException)
    # post-race contract: the swept version now raises the CLASSIFIED
    # error with the horizon, on both resolution surfaces
    with pytest.raises(mt.VersionVacuumedError, match="horizon 2"):
        read_version(spark, root, 0)
    with pytest.raises(mt.VersionVacuumedError, match="vacuum"):
        mt.commit_meta(root, 1)
    assert mt.vacuum_horizon(root) == 2
    # the retained version is untouched
    assert read_version(spark, root, 2).count() == 200
    # the cursor surface gets the same classification (round-14
    # review): a feed consumer whose since-version was swept learns
    # to re-resolve, not to suspect a bogus cursor
    with pytest.raises(mt.VersionVacuumedError, match="vacuum"):
        mt.feed_since(spark, root, 0, on="k")
    # a FRESH vacuum with nothing to drop never lowers the horizon
    assert mt.vacuum(root, keep=5) == []
    assert mt.vacuum_horizon(root) == 2


# ---------------------------------------------------------------------------
# two concurrent streaming writers, one table (round 14, r13 VERDICT item 2)
# ---------------------------------------------------------------------------


def test_stream_dual_writers_replay_and_rebase_compose(spark, tmp_path):
    """The two exactly-once protocols COMPOSE: per-writer batch_id
    guards (derived from the writers' own markers) and OCC claim/rebase
    across writers.  A replayed batch never double-applies — even while
    the OTHER writer lands a new batch concurrently — and no batch is
    lost.  This is the unit face of the stream_writers_concurrent
    query (operators/tier9.py)."""
    import threading

    import dataframe_expressions_spark.sources.mergetable as mt

    root = str(tmp_path / "tbl")
    evens = [k for k in range(20) if k % 2 == 0]
    mt.commit_bucketed(
        spark.createDataFrame(
            [(k, 0) for k in evens], "user_id long, n_events long"
        ),
        root, 0, on="user_id", n_buckets=16, hashed=False,
        meta={"op": "create"},
    )

    def seen_batch(tag):
        return max(
            (
                m.get("batch_id", -1)
                for m in (
                    mt.commit_meta(root, n)
                    for n in mt.committed_versions(root)
                )
                if m.get("writer") == tag
            ),
            default=-1,
        )

    def apply_batch(tag, batch_id, counts):
        if seen_batch(tag) >= batch_id:
            return False  # replay skipped
        chg = spark.createDataFrame(
            [(k, int(n)) for k, n in counts.items()],
            "user_id long, bn long",
        )
        mt.merge_into_bucketed(
            spark, root, chg,
            matched_update={"n_events": "t.n_events + s.bn"},
            not_matched_insert={"n_events": "s.bn"},
            meta={"writer": tag, "batch_id": batch_id},
        )
        return True

    def content():
        return {
            r.user_id: r.n_events
            for r in mt.read_bucketed(spark, root).collect()
        }

    # phase 1: both writers' batch 0, genuinely concurrent (disjoint
    # parities → disjoint modulo buckets → the rebase path)
    even_b0, odd_b0 = {0: 2, 2: 1, 8: 3}, {1: 1, 3: 2, 9: 1}
    errors = []
    barrier = threading.Barrier(2)

    def run(tag, batch_id, counts):
        try:
            barrier.wait(timeout=60)
            apply_batch(tag, batch_id, counts)
        except Exception as e:  # noqa: BLE001 - surfaced via the assert
            errors.append((tag, repr(e)))

    ts = [threading.Thread(target=run, args=("even", 0, even_b0)),
          threading.Thread(target=run, args=("odd", 0, odd_b0))]
    for t in ts:
        t.start()
    for t in ts:
        t.join(timeout=120)
    assert not errors, errors
    after_p1 = content()
    expect = {k: 0 for k in evens}
    for d in (even_b0, odd_b0):
        for k, n in d.items():
            expect[k] = expect.get(k, 0) + n
    assert after_p1 == expect
    v_after_p1 = mt.latest_version(root)

    # phase 2: a pure replay of even batch 0 — guard skips, no commit
    assert apply_batch("even", 0, even_b0) is False
    assert mt.latest_version(root) == v_after_p1
    assert content() == expect

    # phase 3: the replay races the OTHER writer's NEW batch — the new
    # batch must land exactly once, the replay must still skip
    odd_b1 = {1: 4, 5: 1}
    errors2 = []
    barrier2 = threading.Barrier(2)

    def run2(fn):
        try:
            barrier2.wait(timeout=60)
            fn()
        except Exception as e:  # noqa: BLE001 - surfaced via the assert
            errors2.append(repr(e))

    ts2 = [
        threading.Thread(
            target=run2, args=(lambda: apply_batch("even", 0, even_b0),)
        ),
        threading.Thread(
            target=run2, args=(lambda: apply_batch("odd", 1, odd_b1),)
        ),
    ]
    for t in ts2:
        t.start()
    for t in ts2:
        t.join(timeout=120)
    assert not errors2, errors2
    for k, n in odd_b1.items():
        expect[k] = expect.get(k, 0) + n
    assert content() == expect
    # no lost batch, no duplicate application: each writer's marker
    # batch_ids are unique and complete
    ids = {"even": [], "odd": []}
    for n in mt.committed_versions(root):
        m = mt.commit_meta(root, n)
        if m.get("writer"):
            ids[m["writer"]].append(m["batch_id"])
    assert sorted(ids["even"]) == [0]
    assert sorted(ids["odd"]) == [0, 1]


def test_occ_merge_strict_check_runs_once_across_retries(
    spark, tmp_path, monkeypatch
):
    """strict_source_keys under the OCC path (round 14, r13 sweep
    note): the dup guard scans the SOURCE, which never changes across
    conflict retries — so it must run ONCE per MERGE call, not once
    per attempt.  Forced through a full RECOMPUTE retry (overlapping
    rival) with a counting hook; the guard still rejects an actually
    duplicated source up front."""
    import dataframe_expressions_spark.sources.mergetable as mt

    root = str(tmp_path / "tbl")
    _mk_occ_base(spark, root)
    calls = {"n": 0}
    real_check = mt._assert_unique_source_keys

    def counting(source, keys):
        calls["n"] += 1
        return real_check(source, keys)

    monkeypatch.setattr(mt, "_assert_unique_source_keys", counting)
    fired = {"n": 0}
    orig = mt._claim_slot

    def hooked(root_, base, bmeta, tmp, timeout, on_rival):
        if fired["n"] == 0:
            fired["n"] += 1
            # OVERLAPPING rival (same bucket 0): forces abort-and-rerun
            mt.merge_into_bucketed(
                spark, root_, _occ_chg(spark, [16], 3.0), **_OCC_CLAUSES
            )
        return orig(root_, base, bmeta, tmp, timeout, on_rival)

    monkeypatch.setattr(mt, "_claim_slot", hooked)
    n = mt.merge_into_bucketed(
        spark, root, _occ_chg(spark, [0, 8], 5.0),
        strict_source_keys=True, **_OCC_CLAUSES,
    )
    assert n == 2 and fired["n"] == 1
    assert calls["n"] == 1  # one guard scan despite the retry
    got = {
        r.k: r.val
        for r in mt.read_bucketed(spark, root).collect()
        if r.val != 0.0
    }
    assert got == {0: 5.0, 8: 5.0, 16: 3.0}

    # the guard itself still bites: duplicate source keys refused
    dup = spark.createDataFrame(
        [(0, 1.0), (0, 2.0)], "k long, amt double"
    )
    with pytest.raises(ValueError, match="duplicate join key"):
        mt.merge_into_bucketed(
            spark, root, dup, strict_source_keys=True, **_OCC_CLAUSES
        )


def test_vacuum_fences_dead_claim_before_sweeping_it(spark, tmp_path):
    """Round-14 review: sweeping a dead writer's marker-less claim
    object WITHOUT fencing the slot would leave the marker slot empty
    — the stalled claimant's late publish would then SUCCEED, landing
    a version the chain skipped (the silent late-publish the fence
    mechanism exists to close).  Vacuum must fence first, then sweep
    the claim; the late publish still fails loudly afterwards."""
    import json as _json
    import time as _time

    import dataframe_expressions_spark.sources.mergetable as mt
    from dataframe_expressions_spark.sources.commitstore import (
        commit_store_for,
    )

    root = str(tmp_path / "tbl")
    for n in (0, 1, 3):
        commit_snapshot(
            spark.createDataFrame([(n,)], "k long"), root, n
        )
    # a dead claimant's claim at slot 2 (crashed between claim-put and
    # snapshot materialization: no dir, no marker)
    assert commit_store_for(root).put_if_absent(
        "_claims/2",
        _json.dumps({"version": 2, "writer_nonce": "deadbeef"}).encode(),
    )
    # slot 2 is superseded by v3, aged past the 1 h horizon (forge the
    # committed_at the writers recorded — the only clock vacuum reads)
    mk = os.path.join(root, "_commits", "3")
    meta = _json.load(open(mk))
    meta["committed_at"] = _time.time() - 7200
    _json.dump(meta, open(mk, "w"))

    assert mt.vacuum(root, keep=10) == []  # nothing dropped...
    # ...but the dead claim is swept AND its slot permanently fenced
    assert not os.path.exists(os.path.join(root, "_claims", "2"))
    assert mt._is_fence_marker(root, 2)
    # the stalled claimant's late publish fails loudly, never lands
    with pytest.raises(RuntimeError, match="fenced"):
        mt._write_marker(root, 2, {"late": True})
    assert mt.committed_versions(root) == [0, 1, 3]


def test_vacuum_fences_orphan_dir_slot_before_rmtree(spark, tmp_path):
    """Round-14 review (tail pass): the ORPHAN-DIR sweep had the same
    late-publish hole the claim sweep closed — rmtree'ing a marker-less
    aged v<k> while the marker slot was still EMPTY.  A stalled
    claimant publishing in the window between the rmtree and the claim
    sweep's fence (or after a vacuum crash between the two) would land
    a marker pointing at just-deleted data: a silent lost update.
    Vacuum must fence the slot BEFORE deleting the dir; this test
    asserts the ordering white-box by checking the fence is already
    present at rmtree time."""
    import json as _json
    import shutil as _shutil
    import time as _time

    import dataframe_expressions_spark.sources.mergetable as mt
    from dataframe_expressions_spark.sources.commitstore import (
        commit_store_for,
    )

    root = str(tmp_path / "tbl")
    for n in (0, 1, 3):
        commit_snapshot(
            spark.createDataFrame([(n,)], "k long"), root, n
        )
    # a claimant that died between its snapshot rename and its marker
    # publish: claim present, v2 dir present, marker slot EMPTY
    assert commit_store_for(root).put_if_absent(
        "_claims/2",
        _json.dumps({"version": 2, "writer_nonce": "deadbeef"}).encode(),
    )
    spark.createDataFrame([(99,)], "k long").write.parquet(
        os.path.join(root, "v2")
    )
    # superseded by v3 and aged past the 1 h orphan horizon
    mk = os.path.join(root, "_commits", "3")
    meta = _json.load(open(mk))
    meta["committed_at"] = _time.time() - 7200
    _json.dump(meta, open(mk, "w"))

    fenced_at_rmtree = {}
    real_rmtree = _shutil.rmtree

    def spying_rmtree(path, *a, **kw):
        if os.path.basename(str(path)) == "v2":
            fenced_at_rmtree["v2"] = mt._is_fence_marker(root, 2)
        return real_rmtree(path, *a, **kw)

    mt.shutil.rmtree = spying_rmtree
    try:
        assert mt.vacuum(root, keep=10) == []
    finally:
        mt.shutil.rmtree = real_rmtree
    # the dir was swept, and the fence was ALREADY up when it happened
    assert fenced_at_rmtree == {"v2": True}
    assert not os.path.exists(os.path.join(root, "v2"))
    assert not os.path.exists(os.path.join(root, "_claims", "2"))
    # the stalled claimant's late publish fails loudly, never lands
    with pytest.raises(RuntimeError, match="fenced"):
        mt._write_marker(root, 2, {"late": True})
    assert mt.committed_versions(root) == [0, 1, 3]


def test_vacuum_retention_query_self_heals_partial_build(spark):
    """Round-14 review (tail pass): table_vacuum_retention's rebuild
    sentinel was latest<3 only, so a driver killed between merge-3 and
    vacuum left latest==3 with no tombstone — every later call skipped
    the rebuild and failed the horizon contract check FOREVER (the
    write-once store never heals itself).  The sentinel now re-checks
    the full post-vacuum contract and rebuilds on any violation."""
    import shutil as _shutil

    from dataframe_expressions_spark.operators.registry import load_all
    from dataframe_expressions_spark.operators.tier9 import _table_root

    q = load_all()["table_vacuum_retention"]
    df1 = q.fn(spark, SF_SMOKE).orderBy("c_custkey")
    rows1 = [tuple(r) for r in df1.collect()]

    # simulate the crash-before-vacuum state: tombstones gone, commits
    # and data as the merges left them (here: post-vacuum commits — the
    # horizon probe is the contract leg that must trip the rebuild)
    root = _table_root(SF_SMOKE, "custvac_v1")
    _shutil.rmtree(os.path.join(root, "_vacuum"))

    # the query must self-heal (rebuild + re-vacuum), not raise
    df2 = q.fn(spark, SF_SMOKE).orderBy("c_custkey")
    rows2 = [tuple(r) for r in df2.collect()]
    assert rows1 == rows2


def test_mid_history_drop_classified_as_vacuumed(spark, tmp_path):
    """Round-15 (r14 ADVICE): MoR chain promotion can keep an ancestor
    BELOW a dropped version, pinning the tombstone horizon under the
    drop — committed [0,1,2,3] with v2 based on v0 and keep=2 keeps
    [0,2,3] and drops [1].  Reading the swept v1 must classify as
    VersionVacuumedError via the tombstone's `dropping` list (the
    horizon, stuck at 0, cannot see it), and a never-committed version
    must stay a plain not-committed."""
    import json as _json

    import dataframe_expressions_spark.sources.mergetable as mt

    root = str(tmp_path / "midhist")
    for n in range(4):
        commit_snapshot(
            spark.createDataFrame([(n, float(n))], "k long, v double"),
            root,
            n,
        )
    # give v2 the chain-promotion shape: a mor_base pointing at v0
    # (raw marker edit — the test forges the history shape, the
    # protocol under test is vacuum's classification)
    mpath = os.path.join(root, "_commits", "2")
    doc = _json.loads(open(mpath).read())
    doc["mor_base"] = 0
    os.unlink(mpath)
    open(mpath, "w").write(_json.dumps(doc))

    import dataframe_expressions_spark.sources.mergetable as mtmod

    assert mtmod.vacuum(root, keep=2) == [1]
    assert mtmod.committed_versions(root) == [0, 2, 3]
    # the horizon is pinned at the smallest kept version (0) — the
    # mid-history drop classifies through the dropping list alone
    assert mtmod.vacuum_horizon(root) == 0
    with pytest.raises(mt.VersionVacuumedError, match="dropped list"):
        read_version(spark, root, 1)
    # never-committed versions are NOT misclassified as vacuumed
    with pytest.raises(FileNotFoundError, match="not committed") as ei:
        read_version(spark, root, 7)
    assert not isinstance(ei.value, mt.VersionVacuumedError)
    # a SECOND vacuum with the same retention publishes nothing new
    # (drop set already covered): tombstone count is stable
    n_tomb = len(os.listdir(os.path.join(root, "_vacuum")))
    assert mtmod.vacuum(root, keep=2) == []
    assert len(os.listdir(os.path.join(root, "_vacuum"))) == n_tomb


def test_claim_slot_degrades_on_claimless_rival_dir(spark, tmp_path,
                                                    monkeypatch):
    """Round-15 (r14 ADVICE): a single-writer commit (caller-chosen n,
    no claim) can materialize v<n> between _claim_slot's isdir probe
    and its post-claim rename.  The loop must degrade to the lost-race
    path (await the rival's marker, consult on_rival, retry at n+1) —
    not abort the whole commit, which is what raising the OSError did
    after the round-14 port."""
    import json as _json
    import time as _time

    import dataframe_expressions_spark.sources.mergetable as mt

    root = str(tmp_path / "clash")
    commit_snapshot(
        spark.createDataFrame([(1, 1.0)], "k long, v double"), root, 0
    )
    bmeta = mt.commit_meta(root, 0)

    # our writer's staged snapshot
    tmp = os.path.join(root, ".tmp-claimant")
    os.makedirs(tmp)
    open(os.path.join(tmp, "part-0.parquet"), "w").write("stub")

    real_try_claim = mt._try_claim
    injected = {"done": False}

    def racing_try_claim(r, n):
        won = real_try_claim(r, n)
        if won and not injected["done"]:
            injected["done"] = True
            # the claimless rival lands v<n> + marker in the window
            # between the claim win and the rename
            snap = os.path.join(r, f"v{n}")
            os.makedirs(snap)
            open(os.path.join(snap, "part-0.parquet"), "w").write("rival")
            open(os.path.join(r, "_commits", str(n)), "w").write(
                _json.dumps({"committed_at": _time.time(), "rival": True})
            )
        return won

    monkeypatch.setattr(mt, "_try_claim", racing_try_claim)
    seen_rivals = []
    got = mt._claim_slot(
        root, 0, bmeta, tmp, marker_timeout=10.0,
        on_rival=lambda m: seen_rivals.append(m) or True,
    )
    assert got is not None
    n, newest = got
    # the rival kept v1; we landed on the next slot with its meta
    assert n == 2
    assert [m.get("rival") for m in seen_rivals] == [True]
    assert newest.get("rival") is True
    assert os.path.isdir(os.path.join(root, "v2"))
    assert not os.path.exists(tmp)


# ---------------------------------------------------------------------------
# one file-statistics record: every commit kind, legacy markers, MAP feeds
# ---------------------------------------------------------------------------


def _version_files(root, meta):
    """Every parquet file of the version ``meta`` describes, as paths
    relative to ``root`` (the keys a statistics record uses)."""
    n = meta["version"]
    dirs = meta["manifest"].values() if "manifest" in meta else [f"v{n}"]
    return {
        f"{d}/{f}"
        for d in dirs
        for f in os.listdir(os.path.join(root, d))
        if f.endswith(".parquet")
    }


def test_every_commit_kind_writes_the_one_stats_record(spark, tmp_path):
    """Every commit kind that records file statistics writes the one
    ``file_stats_cols`` record and no ``file_stats``; a ``stats_key``
    is the first recorded column (once, even when ``stats_cols`` lists
    it too) and the record's ``key``; the record covers exactly the
    version's files."""
    import dataframe_expressions_spark.sources.mergetable as mt

    df = spark.createDataFrame(
        [(k, k % 7, float(k)) for k in range(64)],
        "k long, y long, val double",
    )
    src = spark.createDataFrame([(1, 1.0), (100, 2.0)], "k long, d double")
    plain, bk = str(tmp_path / "plain"), str(tmp_path / "bk")
    made = {}  # kind -> (root, version, expected cols, expected key)
    mt.commit_snapshot(
        df, plain, 0, n_files=4, stats_key="k", stats_cols=["y", "k"]
    )
    made["commit_snapshot"] = (plain, 0, ["k", "y"], "k")
    made["commit_snapshot_exclusive"] = (
        plain,
        mt.commit_snapshot_exclusive(
            df, plain, n_files=4, stats_key="k", stats_cols=["y"]
        ),
        ["k", "y"], "k",
    )
    mt.commit_mor_delete(spark, plain, "k = 3", on="k")
    made["compact_mor"] = (
        plain, mt.compact_mor(spark, plain, n_files=4, stats_key="k"),
        ["k"], "k",
    )
    made["restore_table (plain)"] = (
        plain, mt.restore_table(spark, plain, 0), ["k", "y"], "k",
    )
    made["optimize_zorder"] = (
        plain, mt.optimize_zorder(spark, plain, ("k", "y"), n_files=4),
        ["k", "y"], None,
    )
    mt.commit_bucketed(
        df, bk, 0, on="k", n_buckets=4, hashed=False, n_files=16,
        stats_key="k", stats_cols=["y"],
    )
    made["commit_bucketed"] = (bk, 0, ["k", "y"], "k")
    m = mt.merge_into_bucketed(
        spark, bk, src, {"val": "t.val + s.d"}, {"val": "s.d"}
    )
    made["merge_into_bucketed"] = (bk, m, ["k", "y"], "k")
    c = mt.compact_buckets(spark, bk, max_files=1)
    assert c == m + 1  # buckets 2 and 3 were still fragmented
    made["compact_buckets"] = (bk, c, ["k", "y"], "k")
    made["restore_table (bucketed)"] = (
        bk, mt.restore_table(spark, bk, 0), ["k", "y"], "k",
    )
    clone = str(tmp_path / "clone")
    made["clone_shallow"] = (clone, mt.clone_shallow(bk, clone),
                             ["k", "y"], "k")
    for kind, (root, n, cols, key) in made.items():
        meta = mt.commit_meta(root, n)
        assert "file_stats" not in meta, kind
        rec = meta["file_stats_cols"]
        assert rec["cols"] == cols and rec.get("key") == key, (kind, rec)
        assert set(rec["files"]) == _version_files(root, meta), kind
        assert all(set(per) == set(cols) for per in rec["files"].values())


def _to_legacy_marker(root, n, with_cols):
    """Rewrite marker ``n`` in the form markers had before the two
    statistics families were folded: a one-column ``file_stats`` for
    the stats key and, ``with_cols``, a ``file_stats_cols`` over the
    other columns only."""
    import json

    path = os.path.join(root, "_commits", str(n))
    with open(path) as fh:
        doc = json.load(fh)
    rec = doc.pop("file_stats_cols")
    key = rec["key"]
    doc["file_stats"] = {
        "key": key,
        "files": {rel: per[key] for rel, per in rec["files"].items()},
    }
    rest = [c for c in rec["cols"] if c != key]
    if with_cols:
        doc["file_stats_cols"] = {
            "cols": rest,
            "files": {
                rel: {c: per[c] for c in rest}
                for rel, per in rec["files"].items()
            },
        }
    with open(path, "w") as fh:
        json.dump(doc, fh)


@pytest.mark.parametrize("with_cols", [False, True])
def test_legacy_stats_markers_prune_and_carry(spark, tmp_path, with_cols):
    """A marker in the old two-field form (``file_stats`` alone, or
    next to ``file_stats_cols``) prunes the same files through
    ``ranges=`` as the one record, and merge, compaction and restore
    carry its statistics forward as the one record."""
    import dataframe_expressions_spark.sources.mergetable as mt

    cols = ["y"] if with_cols else None
    want = ["k", "y"] if with_cols else ["k"]
    df = spark.createDataFrame(
        [(k, k % 7, float(k)) for k in range(256)],
        "k long, y long, val double",
    )
    plain = str(tmp_path / "plain")
    mt.commit_snapshot(
        df, plain, 0, n_files=8, stats_key="k", stats_cols=cols
    )
    rng = {"k": (10, 40)}
    files = set(mt.read_version(spark, plain, 0, ranges=rng).inputFiles())
    _to_legacy_marker(plain, 0, with_cols)
    legacy = mt.read_version(spark, plain, 0, ranges=rng)
    assert set(legacy.inputFiles()) == files and len(files) < 8
    assert sorted(r.k for r in legacy.collect()) == list(range(10, 41))
    if with_cols:
        both = mt.read_version(
            spark, plain, 0, ranges={"k": (10, 40), "y": (0, 1)}
        )
        assert sorted(r.k for r in both.collect()) == [
            k for k in range(10, 41) if k % 7 <= 1
        ]
    # a plain restore rebuilds the key's sort layout from the record
    n = mt.restore_table(spark, plain, 0)
    meta = mt.commit_meta(plain, n)
    assert "file_stats" not in meta
    assert meta["file_stats_cols"]["key"] == "k"
    assert meta["file_stats_cols"]["cols"] == want
    restored = mt.read_version(spark, plain, n, ranges=rng)
    assert restored.count() == 31 and len(restored.inputFiles()) < 8

    bk = str(tmp_path / "bk")
    mt.commit_bucketed(
        df, bk, 0, on="k", n_buckets=4, hashed=False, n_files=16,
        stats_key="k", stats_cols=cols,
    )
    files = set(mt.read_bucketed(spark, bk, 0, ranges=rng).inputFiles())
    _to_legacy_marker(bk, 0, with_cols)
    assert set(
        mt.read_bucketed(spark, bk, 0, ranges=rng).inputFiles()
    ) == files
    src = spark.createDataFrame([(1, 1.0), (300, 2.0)], "k long, d double")
    m = mt.merge_into_bucketed(
        spark, bk, src, {"val": "t.val + s.d"}, {"val": "s.d"}
    )
    _to_legacy_marker(bk, m, with_cols)  # compaction carries from it
    c = mt.compact_buckets(spark, bk, max_files=1)
    assert c == m + 1
    r = mt.restore_table(spark, bk, 0)
    # after the compaction every bucket is one file spanning its keys:
    # only bucket 0's file reaches the inserted key 300; the restored
    # v0 layout keeps its sorted per-bucket files
    for v, rng, want_rows in (
        (c, {"k": (280, 400)}, {300: 2.0}),
        (r, {"k": (0, 3)}, {k: float(k) for k in range(4)}),
    ):
        meta = mt.commit_meta(bk, v)
        assert "file_stats" not in meta
        rec = meta["file_stats_cols"]
        assert rec["key"] == "k" and rec["cols"] == want
        assert set(rec["files"]) == _version_files(bk, meta)
        got = mt.read_bucketed(spark, bk, v, ranges=rng)
        assert {x.k: x.val for x in got.collect()} == want_rows
        assert set(got.inputFiles()) < set(
            mt.read_bucketed(spark, bk, v).inputFiles()
        )
    assert {
        x.k: x.val
        for x in mt.read_bucketed(spark, bk, c, ranges={"k": (0, 3)})
        .collect()
    } == {0: 0.0, 1: 2.0, 2: 2.0, 3: 3.0}


def test_table_changes_compares_map_columns_by_entries(spark, tmp_path):
    """A MAP column cannot be compared with <=>; the change feed
    compares its sorted entries, so reordered entries are no change and
    a changed value is an update."""
    import dataframe_expressions_spark.sources.mergetable as mt

    root = str(tmp_path / "tbl")
    v0 = spark.sql(
        "SELECT 1L AS k, map('a', 1L, 'b', 2L) AS m "
        "UNION ALL SELECT 2L, map('a', 1L, 'b', 2L)"
    )
    v1 = spark.sql(
        "SELECT 1L AS k, map('b', 2L, 'a', 1L) AS m "
        "UNION ALL SELECT 2L, map('a', 1L, 'b', 3L)"
    )
    mt.commit_snapshot(v0, root, 0, n_files=1)
    mt.commit_snapshot(v1, root, 1, n_files=1)
    order = {
        n: {r.k: r.ks for r in mt.read_version(spark, root, n)
            .selectExpr("k", "map_keys(m) AS ks").collect()}
        for n in (0, 1)
    }
    assert order[0][1] == ["a", "b"] and order[1][1] == ["b", "a"]
    got = sorted(
        (r.k, r.change_type, r.m["b"])
        for r in mt.table_changes(spark, root, 0, 1, on="k").collect()
    )
    assert got == [(2, "update_postimage", 3), (2, "update_preimage", 2)]


@pytest.mark.parametrize(
    "wrap, sql_type, m_of",
    [
        ("named_struct('m', {})", "struct<m: map<string, bigint>>", "s.m"),
        ("array({})", "array<map<string, bigint>>", "s[0]"),
    ],
    ids=["struct", "array"],
)
def test_table_changes_compares_nested_map_columns(
    spark, tmp_path, wrap, sql_type, m_of
):
    """A MAP nested inside a STRUCT or an ARRAY is compared by its
    sorted entries too: reordered entries are no change, a changed
    value emits both images, and a NULL container against a container
    of a NULL map is a change (the rebuilt struct keeps NULL as NULL)."""
    import dataframe_expressions_spark.sources.mergetable as mt

    null_map = wrap.format("CAST(NULL AS map<string, bigint>)")

    def version(rows):
        return spark.sql(" UNION ALL ".join(
            f"SELECT {k}L AS k, {v} AS s" for k, v in rows
        ))

    root = str(tmp_path / "tbl")
    mt.commit_snapshot(version([
        (1, wrap.format("map('a', 1L, 'b', 2L)")),
        (2, wrap.format("map('a', 1L, 'b', 2L)")),
        (3, f"CAST(NULL AS {sql_type})"),
        (4, null_map),
    ]), root, 0, n_files=1)
    mt.commit_snapshot(version([
        (1, wrap.format("map('b', 2L, 'a', 1L)")),
        (2, wrap.format("map('a', 1L, 'b', 3L)")),
        (3, null_map),
        (4, null_map),
    ]), root, 1, n_files=1)
    order = [
        mt.read_version(spark, root, n).where("k = 1")
        .selectExpr(f"map_keys({m_of}) AS ks").first().ks
        for n in (0, 1)
    ]
    assert order == [["a", "b"], ["b", "a"]]
    got = sorted(
        (r.k, r.change_type, r.b)
        for r in mt.table_changes(spark, root, 0, 1, on="k")
        .selectExpr("k", "change_type", f"{m_of}['b'] AS b").collect()
    )
    assert got == [
        (2, "update_postimage", 3), (2, "update_preimage", 2),
        (3, "update_postimage", None), (3, "update_preimage", None),
    ]


# ---------------------------------------------------------------------------
# the one OCC commit loop: every claim-published kind, exhaustion, errors
# ---------------------------------------------------------------------------


def _mk_kind_base(spark, root, bucketed):
    """v0 for one OCC commit kind: a modulo-bucketed table whose bucket
    dirs hold several files each (so compaction has work), or a plain
    ``k, x, y`` table."""
    import dataframe_expressions_spark.sources.mergetable as mt

    if bucketed:
        mt.commit_bucketed(
            spark.createDataFrame(
                [(k, float(k)) for k in range(256)], "k long, val double"
            ),
            root, 0, on="k", n_buckets=8, hashed=False, stats_key="k",
            n_files=32,
        )
    else:
        mt.commit_snapshot(
            spark.createDataFrame(
                [(k, k % 5, k // 5) for k in range(20)],
                "k long, x long, y long",
            ),
            root, 0, n_files=4,
        )


def _read_latest(spark, root, bucketed):
    import dataframe_expressions_spark.sources.mergetable as mt

    read = mt.read_bucketed if bucketed else mt.read_version
    return sorted(tuple(r) for r in read(spark, root).collect())


def _tmp_entries(root):
    return [x for x in os.listdir(root) if x.startswith(".tmp")]


# kind -> (bucketed base, commit call with max_retries=1 where it has one)
_OCC_KINDS = {
    "merge": (True, lambda spark, mt, root, **kw: mt.merge_into_bucketed(
        spark, root, _occ_chg(spark, [0, 8], 5.0), **kw, **_OCC_CLAUSES
    )),
    "compaction": (True, lambda spark, mt, root, **kw: mt.compact_buckets(
        spark, root, max_files=1, **kw
    )),
    "mor_delete": (False, lambda spark, mt, root, **kw: mt.commit_mor_delete(
        spark, root, "x < 2", on="k", **kw
    )),
    "compact_mor": (False, lambda spark, mt, root, **kw: mt.compact_mor(
        spark, root, **kw
    )),
    "optimize_zorder": (False, lambda spark, mt, root, **kw: (
        mt.optimize_zorder(spark, root, ("x", "y"), **kw)
    )),
}
_ALWAYS_REBASE_KINDS = {
    "snapshot_exclusive": (False, lambda spark, mt, root: (
        mt.commit_snapshot_exclusive(mt.read_version(spark, root), root)
    )),
    "restore": (True, lambda spark, mt, root: mt.restore_table(
        spark, root, 0
    )),
}


@pytest.mark.parametrize("kind", sorted(_OCC_KINDS))
def test_occ_every_conflicting_kind_exhausts_retries(
    spark, tmp_path, monkeypatch, kind
):
    """Every kind whose rival policy can conflict runs the one OCC loop:
    a conflicting rival (a RESTORE, which records no write-set) landing
    before EVERY claim exhausts max_retries=1 into MergeConflictError.
    The table is exactly what the two rival commits made it — no loser
    marker, data dir or claim — and no temp dir of any kind is left."""
    import dataframe_expressions_spark.sources.mergetable as mt

    bucketed, run = _OCC_KINDS[kind]
    root = str(tmp_path / "tbl")
    _mk_kind_base(spark, root, bucketed)
    v0_rows = _read_latest(spark, root, bucketed)
    orig = mt._claim_slot
    in_rival, rivals = [], []

    def rival_first(root_, base, bmeta, tmp, timeout, on_rival):
        # the rival's own claim runs through this hook too: let it
        # claim unhooked instead of spawning a rival of its own
        if not in_rival:
            in_rival.append(True)
            try:
                rivals.append(mt.restore_table(spark, root_, 0))
            finally:
                in_rival.pop()
        return orig(root_, base, bmeta, tmp, timeout, on_rival)

    monkeypatch.setattr(mt, "_claim_slot", rival_first)
    with pytest.raises(mt.MergeConflictError, match="after 1 retries"):
        run(spark, mt, root, max_retries=1)
    assert rivals == [1, 2]
    assert mt.committed_versions(root) == [0, 1, 2]
    assert [mt.commit_meta(root, n)["op"] for n in rivals] == ["restore"] * 2
    assert sorted(os.listdir(os.path.join(root, "_claims"))) == ["1", "2"]
    assert sorted(x for x in os.listdir(root) if x.startswith("v")) == [
        "v0", "v1", "v2"
    ]
    assert _read_latest(spark, root, bucketed) == v0_rows
    assert not _tmp_entries(root)


@pytest.mark.parametrize(
    "kind", sorted(_OCC_KINDS) + sorted(_ALWAYS_REBASE_KINDS)
)
def test_occ_claim_error_leaves_no_temp(spark, tmp_path, monkeypatch, kind):
    """An error raised inside the claim (here: the claim put itself)
    propagates out of every claim-published commit kind — the
    always-rebase ones (commit_snapshot_exclusive, bucketed restore)
    included — and the one loop removes the attempt's temp dir on the
    way out."""
    import dataframe_expressions_spark.sources.mergetable as mt

    bucketed, run = {**_OCC_KINDS, **_ALWAYS_REBASE_KINDS}[kind]
    root = str(tmp_path / "tbl")
    _mk_kind_base(spark, root, bucketed)

    def broken_claim(root_, n):
        raise OSError("injected claim-store failure")

    monkeypatch.setattr(mt, "_try_claim", broken_claim)
    with pytest.raises(OSError, match="injected claim-store failure"):
        run(spark, mt, root)
    assert mt.committed_versions(root) == [0]
    assert not _tmp_entries(root)


# ---------------------------------------------------------------------------
# the cogroup kernel: the full-outer join's rows, one shuffle
# ---------------------------------------------------------------------------

# duplicate and NULL keys on BOTH sides: 1 and NULL match 2×2, 2 is
# target-only twice, 7 is source-only twice
_DUP_TGT = [(1, "a", 10.0), (1, "b", 11.0), (2, "c", 20.0),
            (2, "d", 21.0), (None, "n", 5.0), (None, "m", 6.0), (3, "e", -1.0)]
_DUP_SRC = [(1, 100.0), (1, 200.0), (7, 700.0), (7, 701.0),
            (None, 50.0), (None, 60.0), (3, 1.0)]
_NULL_KEY = -999  # stands in for NULL in the pandas reference join


def _pandas_outer(left, lcols, right, rcols):
    """pandas' full-outer merge of two row lists on ``k`` (NULL keys pair
    like ``<=>``): one dict per pair, ``_merge`` naming its side."""
    import pandas as pd

    def frame(rows, cols):
        df = pd.DataFrame(rows, columns=["k", *cols], dtype=object)
        df["k"] = df["k"].map(lambda k: _NULL_KEY if k is None else k)
        return df

    out = pd.merge(
        frame(left, lcols), frame(right, rcols), on="k", how="outer",
        suffixes=("_l", "_r"), indicator=True,
    )
    recs = out.astype(object).where(out.notna(), None).to_dict("records")
    for r in recs:
        r["k"] = None if r["k"] == _NULL_KEY else r["k"]
    return recs


def _multiset(rows):
    import numbers

    def plain(v):
        if isinstance(v, numbers.Integral):
            return int(v)
        return float(v) if isinstance(v, numbers.Real) else v

    return sorted((tuple(plain(v) for v in r) for r in rows), key=repr)


@pytest.mark.parametrize("case", ["plain", "matched_delete", "evolve"])
def test_merge_into_duplicate_and_null_keys_match_pandas(spark, case):
    """The MERGE keeps the join's product semantics: every target row of
    a key pairs with every source row of it (NULL keys included), so the
    output is the multiset a pandas full-outer merge gives — with a
    matched DELETE clause and with schema evolution too."""
    tgt = spark.createDataFrame(_DUP_TGT, "k long, name string, bal double")
    src = spark.createDataFrame(_DUP_SRC, "k long, delta double")
    kw = dict(
        matched_update={"bal": "t.bal + s.delta"},
        not_matched_insert={"bal": "s.delta"},
    )
    if case == "matched_delete":
        kw["matched_delete"] = "t.bal + s.delta > 205"
    if case == "evolve":
        kw = dict(
            matched_update={**kw["matched_update"], "tag": "'u'"},
            not_matched_insert={**kw["not_matched_insert"], "tag": "'i'"},
            evolve=True,
        )
    out = merge_into(tgt, src, on="k", **kw)
    want_cols = ["k", "name", "bal"] + (["tag"] if case == "evolve" else [])
    assert out.columns == want_cols
    want = []
    for r in _pandas_outer(_DUP_TGT, ["name", "bal"], _DUP_SRC, ["delta"]):
        side = r["_merge"]
        if side == "both":
            bal = r["bal"] + r["delta"]
            if case == "matched_delete" and bal > 205:
                continue
            row = (r["k"], r["name"], bal, "u")
        elif side == "left_only":
            row = (r["k"], r["name"], r["bal"], None)
        else:
            row = (r["k"], None, r["delta"], "i")
        want.append(row if case == "evolve" else row[:3])
    got = [tuple(r) for r in out.collect()]
    # 1 and NULL pair 2×2, 2 and 7 pass through twice, 3 once
    assert len(got) == 13 - (2 if case == "matched_delete" else 0)
    assert _multiset(got) == _multiset(want)


def test_diff_changes_duplicate_and_null_keys_match_pandas(spark):
    """The change-feed kernel pairs duplicate and NULL keys as the join
    did: each (before, after) pair of a key is classified on its own,
    as a pandas full-outer merge pairs them."""
    from dataframe_expressions_spark.sources.mergetable import _diff_changes

    before = [(1, "a"), (1, "b"), (None, "n"), (None, "m"), (2, "x"),
              (4, "gone")]
    after = [(1, "a"), (1, "z"), (None, "n"), (2, "x"), (2, "y"),
             (5, "new")]
    schema = "k long, v string"
    got = [
        (r.k, r.v, r.change_type)
        for r in _diff_changes(
            spark.createDataFrame(before, schema),
            spark.createDataFrame(after, schema), ["k"],
        ).collect()
    ]
    want = []
    for r in _pandas_outer(before, ["v"], after, ["v"]):
        if r["_merge"] == "left_only":
            want.append((r["k"], r["v_l"], "delete"))
        elif r["_merge"] == "right_only":
            want.append((r["k"], r["v_r"], "insert"))
        elif r["v_l"] != r["v_r"]:
            want.append((r["k"], r["v_l"], "update_preimage"))
            want.append((r["k"], r["v_r"], "update_postimage"))
    assert _multiset(got) == _multiset(want)


@pytest.mark.parametrize("key", ["t", "s"])
def test_merge_into_key_named_like_a_side(spark, key):
    """A key column named ``t`` or ``s`` — the names the clause bodies
    use for the two sides — merges like any other key: ``t.<col>`` and
    ``s.<col>`` still name the sides' fields."""
    tgt = spark.createDataFrame(
        [(1, 10.0), (2, 20.0)], f"{key} long, bal double"
    )
    src = spark.createDataFrame(
        [(1, 5.0), (3, 7.0)], f"{key} long, delta double"
    )
    out = merge_into(
        tgt, src, on=key,
        matched_update={"bal": f"t.bal + s.delta + t.{key} - s.{key}"},
        not_matched_insert={"bal": "s.delta"},
    )
    assert out.columns == [key, "bal"]
    assert sorted(tuple(r) for r in out.collect()) == [
        (1, 15.0), (2, 20.0), (3, 7.0)
    ]


def _exchanges(df) -> int:
    import re

    plan = df._jdf.queryExecution().executedPlan().toString()
    return len(re.findall(r"(?<![A-Za-z])Exchange\b", plan))


@pytest.mark.parametrize("layout", [{}, {"stats_key": "val"}])
def test_bucketed_merge_and_feed_run_one_exchange(
    spark, tmp_path, monkeypatch, layout
):
    """The bucketed MERGE writes straight from its cogroup: the write's
    plan holds exactly one Exchange (the cogroup's, on the bucket id)
    and each touched bucket gets one file.  The change feed between the
    two versions plans exactly one Exchange too."""
    from pyspark.sql.readwriter import DataFrameWriter

    import dataframe_expressions_spark.sources.mergetable as mt

    root = str(tmp_path / "tbl")
    mt.commit_bucketed(
        spark.createDataFrame(
            [(k, 0.0) for k in range(40)], "k long, val double"
        ),
        root, 0, on="k", n_buckets=8, hashed=False, **layout,
    )
    written = []
    real_parquet = DataFrameWriter.parquet

    def recording(self, path, *a, **kw):
        written.append(self._df)
        return real_parquet(self, path, *a, **kw)

    monkeypatch.setattr(DataFrameWriter, "parquet", recording)
    n = mt.merge_into_bucketed(
        spark, root, _occ_chg(spark, [0, 8, 3, 41, 43], 5.0), **_OCC_CLAUSES
    )
    monkeypatch.setattr(DataFrameWriter, "parquet", real_parquet)
    assert n == 1 and len(written) == 1
    assert _exchanges(written[0]) == 1
    meta = mt.commit_meta(root, 1)
    assert meta["touched_buckets"] == ["0", "1", "3"]
    for b in meta["touched_buckets"]:
        files = [
            x for x in os.listdir(os.path.join(root, meta["manifest"][b]))
            if x.endswith(".parquet")
        ]
        assert len(files) == 1, (b, files)
    got = {r.k: r.val for r in mt.read_bucketed(spark, root).collect()}
    assert got == {**{k: 0.0 for k in range(40)},
                   0: 5.0, 8: 5.0, 3: 5.0, 41: 5.0, 43: 5.0}
    feed = mt.table_changes(spark, root, 0, 1)
    assert _exchanges(feed) == 1
    assert sorted((r.k, r.change_type) for r in feed.collect()) == sorted(
        [(k, c) for k in (0, 3, 8)
         for c in ("update_preimage", "update_postimage")]
        + [(41, "insert"), (43, "insert")]
    )


def test_restore_bucketed_starts_above_an_orphan_slot(
    spark, tmp_path, monkeypatch
):
    """A dead claimant's marker-less ``v1`` costs the bucketed restore no
    wait: its claim starts above every taken slot, as the exclusive
    snapshot commit's does, so the await/fence path never runs."""
    import dataframe_expressions_spark.sources.mergetable as mt

    root = str(tmp_path / "tbl")
    _mk_occ_base(spark, root)
    os.makedirs(os.path.join(root, "v1"))  # dead claimant's orphan

    def never(*a, **kw):
        raise AssertionError("the restore awaited or fenced a slot")

    monkeypatch.setattr(mt, "_await_commit_meta", never)
    monkeypatch.setattr(mt, "_publish_fence", never)
    assert mt.restore_table(spark, root, 0, marker_timeout=30.0) == 2
    meta = mt.commit_meta(root, 2)
    assert meta["restored_from"] == 0 and meta["base_version"] == 0
    assert mt.committed_versions(root) == [0, 2]
    assert {r.k: r.val for r in mt.read_bucketed(spark, root).collect()} == {
        k: 0.0 for k in range(40)
    }
