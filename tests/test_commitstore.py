"""CommitStore abstraction (round 14, r13 VERDICT item 1): the 3-op
conditional-put coordination plane under the table format — unit
semantics of both backends, protocol-level lost-ack/duplicate-put
recovery, and the EXISTING OCC race matrix from test_mergetable.py
re-driven against the fault-injection backend (object-store failure
modes: lost acks, duplicated puts, lagged cross-client visibility)."""

from __future__ import annotations

import json
import os
import threading
import time

import pytest

import test_mergetable as tm
from dataframe_expressions_spark.sources.commitstore import (
    CommitStore,
    CommitStoreMissing,
    FaultyCommitStore,
    LocalFSCommitStore,
    commit_store_for,
    set_commit_store_factory,
)


# ---------------------------------------------------------------------------
# store unit semantics
# ---------------------------------------------------------------------------


def test_local_store_put_if_absent_read_list(tmp_path):
    st = LocalFSCommitStore(str(tmp_path))
    assert st.list("_commits") == []
    with pytest.raises(CommitStoreMissing):
        st.read("_commits/0")
    # CommitStoreMissing must BE a FileNotFoundError: every marker-read
    # handler in mergetable treats absence as FileNotFoundError
    assert issubclass(CommitStoreMissing, FileNotFoundError)
    assert st.put_if_absent("_commits/0", b'{"version": 0}') is True
    assert st.put_if_absent("_commits/0", b'{"version": 99}') is False
    assert json.loads(st.read("_commits/0"))["version"] == 0  # loser no-op
    assert st.put_if_absent("_claims/1", b"{}") is True
    assert st.list("_commits") == ["0"]
    assert st.list("_claims") == ["1"]
    # no temp litter from either the winning or the losing put
    assert set(os.listdir(tmp_path / "_commits")) == {"0"}


def test_faulty_store_ack_loss_lands_but_reports_false(tmp_path):
    st = FaultyCommitStore(LocalFSCommitStore(str(tmp_path)), ack_loss_every=1)
    assert st.put_if_absent("_commits/0", b'{"a": 1}') is False  # ack lost...
    assert json.loads(st.read("_commits/0")) == {"a": 1}  # ...but it LANDED
    assert st.stats["ack_lost"] == 1
    # a genuinely-lost race still reports False and never clobbers
    assert st.put_if_absent("_commits/0", b'{"a": 2}') is False
    assert json.loads(st.read("_commits/0")) == {"a": 1}


def test_faulty_store_duplicated_put_is_noop(tmp_path):
    st = FaultyCommitStore(LocalFSCommitStore(str(tmp_path)), dup_every=1)
    assert st.put_if_absent("_commits/0", b'{"a": 1}') is True
    assert st.stats["duplicated"] == 1  # second delivery no-opped inside
    assert json.loads(st.read("_commits/0")) == {"a": 1}


def test_faulty_store_lag_hides_from_other_threads_only(tmp_path):
    st = FaultyCommitStore(LocalFSCommitStore(str(tmp_path)), lag=0.4)
    done = threading.Event()

    def writer():
        assert st.put_if_absent("_commits/0", b"{}") is True
        # read-your-writes: the creating client sees it immediately
        assert st.read("_commits/0") == b"{}"
        assert st.list("_commits") == ["0"]
        done.set()

    t = threading.Thread(target=writer)
    t.start()
    t.join(timeout=30)
    assert done.is_set()
    # another client: invisible inside the lag window...
    hidden_read = hidden_list = False
    try:
        st.read("_commits/0")
    except CommitStoreMissing:
        hidden_read = True
    hidden_list = "0" not in st.list("_commits")
    assert hidden_read and hidden_list
    # ...and visible once the lag elapses (polling, as the protocol does)
    deadline = time.time() + 5
    while time.time() < deadline:
        try:
            if st.read("_commits/0") == b"{}" and "0" in st.list("_commits"):
                break
        except CommitStoreMissing:
            pass
        time.sleep(0.05)
    else:
        pytest.fail("object never became visible after the lag window")


# ---------------------------------------------------------------------------
# factory plumbing + fault-plan fixture
# ---------------------------------------------------------------------------


def _install(plan_kwargs):
    """Install a per-root-cached faulty-store factory; return the cache."""
    stores: dict = {}
    lock = threading.Lock()

    def factory(root: str):
        with lock:
            if root not in stores:
                stores[root] = FaultyCommitStore(
                    LocalFSCommitStore(root), **plan_kwargs
                )
            return stores[root]

    set_commit_store_factory(factory)
    return stores


_PLANS = {
    # every other successful put loses its ack — the retried-PUT
    # ambiguity; nonce read-back must recover every one
    "ack_loss": dict(ack_loss_every=2),
    # every other put is delivered twice — exactly-once delivery of the
    # put itself must not be load-bearing anywhere
    "dup": dict(dup_every=2),
    # both at once, interleaved phases
    "combo": dict(ack_loss_every=3, dup_every=2),
}


@pytest.fixture(params=sorted(_PLANS))
def faulty_store(request):
    stores = _install(_PLANS[request.param])
    try:
        yield stores
    finally:
        set_commit_store_factory(None)
    assert isinstance(
        commit_store_for("/nonexistent-probe"), LocalFSCommitStore
    )


@pytest.fixture
def laggy_store():
    stores = _install(dict(lag=0.15))
    try:
        yield stores
    finally:
        set_commit_store_factory(None)


# ---------------------------------------------------------------------------
# protocol-level recovery from the conditional-put ambiguity
# ---------------------------------------------------------------------------


def test_single_writer_commits_survive_total_ack_loss(spark, tmp_path):
    """With EVERY put's ack lost, commit_snapshot / commit_bucketed /
    bucketed merge still commit exactly once: _write_marker reads
    the occupant back and recognises its own writer_nonce."""
    import dataframe_expressions_spark.sources.mergetable as mt

    _install(dict(ack_loss_every=1))
    try:
        root = str(tmp_path / "plain")
        df = spark.createDataFrame([(1, "a")], "k long, v string")
        mt.commit_snapshot(df, root, 0)
        assert mt.latest_version(root) == 0
        broot = str(tmp_path / "bkt")
        tm._mk_occ_base(spark, broot)
        mt.merge_into_bucketed(
            spark, broot, tm._occ_chg(spark, [0], 5.0), **tm._OCC_CLAUSES
        )
        assert mt.latest_version(broot) == 1
    finally:
        set_commit_store_factory(None)


def test_exclusive_commit_survives_total_ack_loss(spark, tmp_path):
    """commit_snapshot_exclusive under 100% lost acks: claim AND
    publish both land via nonce read-back; exactly one version per
    call, markers describe the right data."""
    import dataframe_expressions_spark.sources.mergetable as mt

    stores = _install(dict(ack_loss_every=1))
    try:
        root = str(tmp_path / "tbl")
        os.makedirs(root, exist_ok=True)
        for i in range(3):
            df = spark.createDataFrame([(i, f"w{i}")], "k long, v string")
            n = mt.commit_snapshot_exclusive(df, root, meta={"i": i})
            assert n == i
            assert mt.commit_meta(root, n)["i"] == i
        assert mt.committed_versions(root) == [0, 1, 2]
        assert stores[root].stats["ack_lost"] >= 6  # claims + markers
    finally:
        set_commit_store_factory(None)


def test_occ_merge_survives_total_ack_loss(spark, tmp_path):
    """The full OCC MERGE path (claim, fence checks, publish) under
    100% lost acks — the hardest single-writer-visible fault plan."""
    import dataframe_expressions_spark.sources.mergetable as mt

    root = str(tmp_path / "tbl")
    tm._mk_occ_base(spark, root)  # built on the clean store
    _install(dict(ack_loss_every=1))
    try:
        n = mt.merge_into_bucketed(
            spark, root, tm._occ_chg(spark, [0, 8], 5.0), **tm._OCC_CLAUSES
        )
        assert n == 1
        got = {
            r.k: r.val
            for r in mt.read_bucketed(spark, root).collect()
            if r.val != 0.0
        }
        assert got == {0: 5.0, 8: 5.0}
    finally:
        set_commit_store_factory(None)


def test_occ_merge_under_cross_client_lag(spark, tmp_path, laggy_store):
    """Two genuinely concurrent OCC merges when every object is
    invisible to the OTHER writer for 0.15 s after creation: the claim
    collision surfaces as a lost put (not a visible occupant), the
    loser's await loop polls the rival's marker into view, and both
    commits land with no lost update."""
    import dataframe_expressions_spark.sources.mergetable as mt

    root = str(tmp_path / "tbl")
    tm._mk_occ_base(spark, root)
    time.sleep(0.3)  # let v0 settle into cross-client visibility
    results, errors = {}, []
    barrier = threading.Barrier(2)

    def writer(tag, keys, amt):
        try:
            chg = tm._occ_chg(spark, keys, amt)
            barrier.wait(timeout=120)
            results[tag] = mt.merge_into_bucketed(
                spark, root, chg, meta={"writer": tag}, **tm._OCC_CLAUSES
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
    # let the last writer's marker settle into CROSS-client visibility:
    # this main thread is a third client, and reading inside the lag
    # window legitimately resolves the PREVIOUS version (eventual
    # consistency gives stale-but-correct reads, never wrong data)
    time.sleep(0.3)
    got = {
        r.k: r.val
        for r in mt.read_bucketed(spark, root).collect()
        if r.val != 0.0
    }
    assert got == {0: 5.0, 8: 5.0, 16: 5.0, 1: 7.0, 9: 7.0, 17: 7.0}


# ---------------------------------------------------------------------------
# the EXISTING race matrix, re-driven against the fault-injection store
# (r13 VERDICT item 1's done-bar).  Each scenario's own asserts run
# unchanged: lost acks and duplicate deliveries may change the path
# taken, never the committed outcome.
# ---------------------------------------------------------------------------


def test_matrix_exclusive_concurrent_writers(spark, tmp_path, faulty_store):
    tm.test_exclusive_commit_concurrent_writers_no_lost_update(
        spark, tmp_path
    )


def test_matrix_occ_merge_concurrent_writers(spark, tmp_path, faulty_store):
    tm.test_occ_merge_genuinely_concurrent_writers(spark, tmp_path)


def test_matrix_dead_claimant_fenced(spark, tmp_path, faulty_store):
    tm.test_occ_merge_skips_dead_claimant_orphan(spark, tmp_path)


def test_matrix_restore_racing_merge(spark, tmp_path, faulty_store):
    tm.test_occ_restore_racing_merge_both_land(spark, tmp_path)


def test_matrix_compact_racing_merge(spark, tmp_path, faulty_store):
    tm.test_occ_compact_racing_merge_both_land(spark, tmp_path)


def test_matrix_three_way_maintenance_race(spark, tmp_path, faulty_store):
    tm.test_occ_three_way_maintenance_race(spark, tmp_path)


def test_matrix_fence_race_lost_reads_rival(
    spark, tmp_path, faulty_store, monkeypatch
):
    tm.test_fence_race_lost_reads_rival_like_normal(
        spark, tmp_path, monkeypatch
    )


def test_matrix_vacuum_concurrent_unlink(
    spark, tmp_path, faulty_store, monkeypatch
):
    tm.test_vacuum_idempotent_under_concurrent_marker_unlink(
        spark, tmp_path, monkeypatch
    )


# ---------------------------------------------------------------------------
# the optional delete op (round 15, r14 ADVICE): vacuum's maintenance
# deletes route through the store, so a non-local backend's keyspace
# does not go stale the day one is installed
# ---------------------------------------------------------------------------


def test_local_store_delete_removes_and_tolerates_absence(tmp_path):
    st = LocalFSCommitStore(str(tmp_path))
    assert st.put_if_absent("_claims/3", b"{}")
    st.delete("_claims/3")
    with pytest.raises(CommitStoreMissing):
        st.read("_claims/3")
    st.delete("_claims/3")  # absence is a no-op
    st.delete("_claims/never-existed")


def test_faulty_store_delete_clears_visibility_bookkeeping(tmp_path):
    """A deleted key's stale _born entry must not lag-hide a FUTURE
    object re-created at the same key (it is a fresh creation by
    whoever makes it next)."""
    st = FaultyCommitStore(LocalFSCommitStore(str(tmp_path)), lag=30.0)
    assert st.put_if_absent("_vacuum/0", b"{}")
    assert "_vacuum/0" in st._born
    st.delete("_vacuum/0")
    assert "_vacuum/0" not in st._born
    # re-creation from ANOTHER thread is immediately visible to us:
    # out-of-band per the _born contract, not hidden by the old entry
    done = threading.Event()

    def recreate():
        st.inner.put_if_absent("_vacuum/0", b"fresh")
        done.set()

    threading.Thread(target=recreate).start()
    assert done.wait(5.0)
    assert st.read("_vacuum/0") == b"fresh"


def test_vacuum_routes_coordination_deletes_through_store(spark, tmp_path):
    """vacuum retires markers and claims via CommitStore.delete when
    the backend implements it (falling back to the local unlink only
    for delete-less backends) — asserted with a recording wrapper."""
    import dataframe_expressions_spark.sources.mergetable as mt

    deleted: list = []

    class RecordingStore(CommitStore):
        def __init__(self, root):
            self.inner = LocalFSCommitStore(root)

        def put_if_absent(self, key, data):
            return self.inner.put_if_absent(key, data)

        def read(self, key):
            return self.inner.read(key)

        def list(self, prefix):
            return self.inner.list(prefix)

        def delete(self, key):
            deleted.append(key)
            self.inner.delete(key)

    stores: dict = {}
    set_commit_store_factory(
        lambda root: stores.setdefault(root, RecordingStore(root))
    )
    try:
        root = str(tmp_path / "deltbl")
        for n in range(3):
            mt.commit_snapshot(
                spark.createDataFrame([(n,)], "k long"), root, n
            )
        assert mt.vacuum(root, keep=1) == [0, 1]
    finally:
        set_commit_store_factory(None)
    assert "_commits/0" in deleted and "_commits/1" in deleted
    assert "_claims/0" in deleted and "_claims/1" in deleted
    # the markers are really gone and the store classifies the sweep
    assert mt.committed_versions(root) == [2]
    with pytest.raises(mt.VersionVacuumedError):
        mt.read_version(spark, root, 0)


def test_deleteless_backend_falls_back_to_local_unlink(spark, tmp_path):
    """A backend that leaves delete() unimplemented keeps the
    pre-round-15 behavior: vacuum unlinks the local file directly."""
    import dataframe_expressions_spark.sources.mergetable as mt

    class NoDeleteStore(CommitStore):
        def __init__(self, root):
            self.inner = LocalFSCommitStore(root)

        def put_if_absent(self, key, data):
            return self.inner.put_if_absent(key, data)

        def read(self, key):
            return self.inner.read(key)

        def list(self, prefix):
            return self.inner.list(prefix)

    stores: dict = {}
    set_commit_store_factory(
        lambda root: stores.setdefault(root, NoDeleteStore(root))
    )
    try:
        root = str(tmp_path / "nodel")
        for n in range(2):
            mt.commit_snapshot(
                spark.createDataFrame([(n,)], "k long"), root, n
            )
        assert mt.vacuum(root, keep=1) == [0]
        assert mt.committed_versions(root) == [1]
        assert not os.path.exists(os.path.join(root, "_commits", "0"))
    finally:
        set_commit_store_factory(None)
