"""Table loading + the reference-faithful nested view.

The reference's data model is hierarchical: events carrying
variable-length collections of structs (reference: README — jets/electrons
examples; SURVEY.md §1).  The driver's testdata is flat TPC-H-ish parquet,
so we derive ``orders_nested`` (orders + their lineitems as an
``array<struct>``) to exercise nested semantics — exactly mirrored in the
DuckDB oracle CTE (see operators/oracle fragments).

Scale notes (100 TB thinking):

* ``orders_nested`` is a groupBy-collect on the fact table's natural key —
  one shuffle on ``l_orderkey``, map-side partial aggregation applies, and
  the result is partitioned by the same key every nested query then uses.
  On a real lake this view would be written once, bucketed by
  ``l_orderkey``, and all nested queries become shuffle-free scans.
* ``sort_array`` on structs with ``l_linenumber`` leading gives
  deterministic element order without a per-group sort-within-shuffle.
* Loads go through ``read_parquet`` → Catalyst prunes columns and
  pushes filters into the scan for every downstream query, and the
  read itself runs nothing: the schema is passed in (bucketed tables
  record theirs in the commit marker) or taken from a per-process memo
  of Spark's own inference, keyed on the files' identity, so no query
  fires the footer-reading ``parquet at <unknown>:0`` job twice for the
  same bytes.
"""

from __future__ import annotations

import os
import shutil
import threading
from collections import OrderedDict
from typing import Dict, Optional

from pyspark.sql import DataFrame as SDF
from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

__all__ = [
    "TABLE_NAMES",
    "epoch_us",
    "source_fingerprint",
    "store_root",
    "store_path",
    "publish_store",
    "read_parquet",
    "load_table",
    "load_tables",
    "orders_nested",
    "ORDERS_NESTED_SQL",
    "customer_nested",
    "CUSTOMER_NESTED_SQL",
]

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def ensure_nanos_conf(spark: SparkSession) -> None:
    """Some events.parquet vintages carry TIMESTAMP(NANOS), which Spark 4
    refuses to read unless nanosAsLong is on (harmless for micros files).
    Our session factory sets it, but the driver harness passes its OWN
    plain session — the conf is dynamic, so set it defensively before
    every read."""
    key = "spark.sql.legacy.parquet.nanosAsLong"
    if spark.conf.get(key, "false") != "true":
        spark.conf.set(key, "true")
    # Pin the session timezone too: every LTZ cast (streaming event time)
    # and epoch extraction must agree with the DuckDB oracle's naive-UTC
    # reading regardless of which session the driver hands us.  NB: the
    # fallback passed to conf.get() is VALIDATED as a timezone on
    # sessions that never set the conf — '' throws INVALID_CONF_VALUE.
    tz = "spark.sql.session.timeZone"
    if spark.conf.get(tz, "UTC") != "UTC":
        spark.conf.set(tz, "UTC")


def normalize_event_ts(df: SDF) -> SDF:
    """Normalize ``events.ts`` to TIMESTAMP_NTZ across testdata vintages.

    The driver has regenerated events.parquet with different physical
    types between rounds (TIMESTAMP(NANOS) → TIMESTAMP(MICROS)); a loader
    hard-coded to one vintage breaks on the next regeneration — the same
    way a 100 TB lake reader breaks on its first schema-evolved partition.
    Branch on the dtype Spark actually loaded:

    * ``long`` — the nanos vintage read under ``nanosAsLong``; integer-div
      ns→us (truncation, matching DuckDB's ns→us cast) and anchor to the
      NTZ epoch with pure arithmetic — no session-timezone dependency.
      NB ``div`` truncates toward zero, which for NEGATIVE (pre-1970)
      instants rounds the opposite way from a floor-based ns→us
      conversion; the testdata epochs are all non-negative, and DuckDB's
      cast truncates identically, so the match holds — revisit with
      floor division if pre-1970 event data ever appears.
    * ``timestamp_ntz`` — the micros vintage; already exactly DuckDB's
      naive-timestamp semantics.  Pass through.
    * ``timestamp`` (LTZ) — a hypothetical isAdjustedToUTC vintage; strip
      the zone via UTC so the wall clock equals the stored instant.
    """
    from pyspark.sql.types import LongType, TimestampNTZType, TimestampType

    dt = df.schema["ts"].dataType
    if isinstance(dt, LongType):
        return df.withColumn(
            "ts",
            F.expr(
                "timestampadd(MICROSECOND, ts div 1000,"
                " TIMESTAMP_NTZ '1970-01-01 00:00:00')"
            ),
        )
    if isinstance(dt, TimestampNTZType):
        return df
    if isinstance(dt, TimestampType):
        return df.withColumn(
            "ts",
            F.expr(
                "convert_timezone(current_timezone(), 'UTC',"
                " cast(ts as timestamp_ntz))"
            ),
        )
    raise TypeError(f"events.ts: unsupported parquet vintage {dt}")


def epoch_us(col: str = "ts"):
    """Exact int64 microseconds-since-epoch from the normalized
    TIMESTAMP_NTZ ``ts`` — the tz-independent twin of DuckDB's
    ``epoch_us()``.  (``F.unix_micros`` requires TIMESTAMP(LTZ) and would
    reintroduce a session-timezone dependency.)"""
    return F.expr(
        f"timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', {col})"
    )


# Session confs that change what Spark infers from the same parquet bytes.
_SCHEMA_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.caseSensitive",
)
_SCHEMA_MEMO_SIZE = 256
_schema_memo: "OrderedDict[tuple, StructType]" = OrderedDict()
_schema_lock = threading.Lock()


def _files_identity(paths) -> Optional[tuple]:
    """Sorted ``(path, size, mtime_ns, inode)`` of every leaf file under
    ``paths`` — None when a path is not on the local file system (a
    remote URI, or missing: Spark then raises its own error) or a file
    vanished while being listed."""
    out = []
    for p in paths:
        if not os.path.exists(p):
            return None
        files = [p] if os.path.isfile(p) else [
            os.path.join(d, f) for d, _, names in os.walk(p) for f in names
        ]
        for fp in files:
            try:
                st = os.stat(fp)
            except FileNotFoundError:
                return None
            out.append((fp, st.st_size, st.st_mtime_ns, st.st_ino))
    return tuple(sorted(out))


def read_parquet(
    spark: SparkSession, *paths: str, schema: Optional[StructType] = None
) -> SDF:
    """``spark.read.parquet(*paths)`` that runs no job to find the schema.

    A ``schema`` passed in is used as is.  Otherwise the schema is what
    Spark infers from the files — one footer-reading job — memoized per
    process on the identity of every leaf file (path, size, mtime,
    inode) plus the session confs that change inference
    (``_SCHEMA_CONFS``).  A rewritten file changes its identity, so an
    entry never goes stale; it only stops being hit.  The memo holds
    the ``_SCHEMA_MEMO_SIZE`` most recently used file sets.  Paths that
    are not local files are inferred on every call, as Spark does."""
    if schema is None:
        files = _files_identity(paths)
        key = None
        if files is not None:
            key = (files, tuple(spark.conf.get(k) for k in _SCHEMA_CONFS))
            with _schema_lock:
                schema = _schema_memo.get(key)
                if schema is not None:
                    _schema_memo.move_to_end(key)
        if schema is None:
            schema = spark.read.parquet(*paths).schema
            if key is not None:
                with _schema_lock:
                    _schema_memo[key] = schema
                    while len(_schema_memo) > _SCHEMA_MEMO_SIZE:
                        _schema_memo.popitem(last=False)
    return spark.read.schema(schema).parquet(*paths)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> SDF:
    ensure_nanos_conf(spark)
    df = read_parquet(spark, f"{sf_dir}/{name}.parquet")
    if name == "events":
        df = normalize_event_ts(df)
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> Dict[str, SDF]:
    return {name: load_table(spark, sf_dir, name) for name in TABLE_NAMES}


_ITEM_FIELDS = (
    "l_linenumber",
    "l_quantity",
    "l_extendedprice",
    "l_discount",
    "l_tax",
    "l_returnflag",
    "l_shipdate",
)


def store_root() -> str:
    """Root of every write-once derived store (nested views, bucketed
    tables, minhash pair tables, scored CN tables, maintenance copies,
    staged stream sources, copy-on-write table roots) —
    ``$SPARK_GRAFT_STORE_ROOT``, default ``/tmp``.  ``store_path`` names
    and sweeps them all; ``publish_store`` builds the write-once parquet
    ones (bucketed tables are written by ``saveAsTable``, table roots by
    mergetable's commits); no other module composes a store path.

    Single machine: any local dir works; stores are fingerprint-keyed
    and self-sweeping.  Real cluster: point this at a shared
    object-store prefix every executor and driver can read —
    ``s3a://bucket/spark_graft_stores`` or
    ``abfss://container@account.dfs.core.windows.net/stores`` — so one
    build serves the fleet.  Atomic-rename caveat: ``publish_store``
    publishes a finished store by ``os.rename`` of a pid-suffixed temp
    dir (atomic on POSIX); object stores have NO atomic directory
    rename, so there the publish step must become write-to-final-path +
    commit-marker (treat ``_SUCCESS`` as the existence test) or a
    manifest-commit (Delta/Iceberg) — the keying, fingerprinting, and
    sweep logic transfer unchanged.  The copy-on-write table format
    (sources/mergetable.py) is the marker-commit variant made
    first-class: versioned snapshots under this root, marker = commit,
    reader resolves max committed version — see its module docstring
    for the multi-writer object-store caveat."""
    return os.environ.get("SPARK_GRAFT_STORE_ROOT", "/tmp")


def source_fingerprint(sf_dir: str, tables=("orders", "lineitem")) -> str:
    """Identity of the source tables feeding a derived store.  The
    driver regenerates testdata between rounds (round 2 changed the
    events timestamp vintage in place); a cache keyed only on the sf
    name would silently serve artifacts built from the previous
    generation.  mtime+size of the parquet footprint is the cheap,
    rename-safe identity — the same check a lake-side materialized view
    does against its source snapshot id."""
    import hashlib

    sig = []
    for t in tables:
        st = os.stat(f"{sf_dir}/{t}.parquet")
        sig.append(f"{t}:{st.st_mtime_ns}:{st.st_size}")
    return hashlib.md5(";".join(sig).encode()).hexdigest()[:10]


def store_path(sf_dir: str, stem: str, tables) -> str:
    """The path of a derived store:
    ``{store_root()}/spark_graft_{stem}_{sf}_{source_fingerprint}``.

    ``stem`` names the store and carries its version tag (bump the tag
    when the build changes); ``sf`` is the basename of ``sf_dir``;
    the fingerprint covers exactly the ``tables`` feeding THIS store,
    so regenerating any of them in place invalidates it.  Every call
    sweeps the prefix's stale siblings — earlier fingerprints and the
    ``.tmp{pid}`` dirs of dead builders; live-pid builds are kept (see
    ``sweep_stale_store_dirs``)."""
    root = store_root()
    prefix = f"spark_graft_{stem}_{sf_dir.rstrip('/').rsplit('/', 1)[-1]}_"
    out = f"{root}/{prefix}{source_fingerprint(sf_dir, tables)}"
    sweep_stale_store_dirs(root, prefix, out)
    return out


def publish_store(path: str, write) -> str:
    """Build the store at ``path`` once and return ``path``.  ``write``
    fills a pid-suffixed temp dir, which is renamed into place, so a
    half-written build is never read and concurrent first-callers
    don't corrupt each other (the loser of the rename race discards
    its temp).  An existing store is returned without calling
    ``write``."""
    if not os.path.exists(path):
        tmp = f"{path}.tmp{os.getpid()}"
        write(tmp)
        try:
            os.rename(tmp, path)
        except OSError:  # lost the race: another process renamed first
            shutil.rmtree(tmp, ignore_errors=True)
    return path


def _materialize(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    build,
    tables=("orders", "lineitem"),
) -> SDF:
    """Write-once materialization of a derived view.  This IS the 100 TB
    shape the docstrings describe: the nested view is built once (one
    shuffle) and every query after that scans the materialized copy
    shuffle-free, instead of re-running the groupBy-collect per query.
    8 files so the read-back parallelizes (testdata parquet is one row
    group per file; don't reproduce that bottleneck here)."""
    out = publish_store(
        store_path(sf_dir, f"view_{name}_v1", tables),
        lambda tmp: build().repartition(8).write.mode("overwrite").parquet(tmp),
    )
    return read_parquet(spark, out)


def write_once_parquet(df: SDF, path: str, n_files: int = 8) -> str:
    """Publish ``df`` as ``n_files`` parquet files at ``path`` unless a
    store is already there (``publish_store``); returns ``path``."""
    return publish_store(
        path,
        lambda tmp: df.repartition(n_files).write.mode("overwrite").parquet(tmp),
    )


def write_done_marker(path: str) -> None:
    """Publish a done marker via tmp + rename (atomic on POSIX), so a
    partially-written marker can never read as done."""
    tmp = f"{path}.tmp{os.getpid()}"
    with open(tmp, "w") as fh:
        fh.write("done")
    try:
        os.rename(tmp, path)
    except OSError:
        os.unlink(tmp)


def drain_staged_stream(
    spark: SparkSession,
    src: str,
    loop,
    ckpt: str,
    max_files_per_trigger: int = 2,
) -> None:
    """Run a bounded file-source stream to completion: schema from the
    staged parquet, ``maxFilesPerTrigger`` micro-batches through
    ``foreachBatch(loop)``, AvailableNow trigger, checkpoint removed
    after the drain (the source is bounded and write-once; exactly-once
    across RE-INVOCATIONS is the caller's marker/batch_id guard, not
    the checkpoint's).  Shared by every streaming-CDC query so the two
    exactly-once protocols cannot drift apart (round-11 review)."""
    schema = read_parquet(spark, src).schema
    q = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(src)
        .writeStream.foreachBatch(loop)
        .trigger(availableNow=True)
        .option("checkpointLocation", ckpt)
        .start()
    )
    q.awaitTermination()
    shutil.rmtree(ckpt, ignore_errors=True)


def orders_nested(spark: SparkSession, sf_dir: str) -> SDF:
    """orders ⋈ (lineitem grouped per order as sorted array<struct>).

    Inner join: orders without lineitems are dropped (identical rule in the
    oracle CTE, so both engines see the same universe).  Materialized per
    sf dir — see _materialize.
    """

    def build() -> SDF:
        orders = load_table(spark, sf_dir, "orders")
        lineitem = load_table(spark, sf_dir, "lineitem")
        items = (
            lineitem.groupBy("l_orderkey")
            .agg(
                F.sort_array(
                    F.collect_list(F.struct(*[F.col(c) for c in _ITEM_FIELDS]))
                ).alias("items")
            )
        )
        return orders.join(
            items, orders.o_orderkey == items.l_orderkey, "inner"
        ).drop("l_orderkey")

    return _materialize(
        spark, sf_dir, "orders_nested", build, tables=("orders", "lineitem")
    )


def customer_nested(spark: SparkSession, sf_dir: str) -> SDF:
    """Two-level nesting: customer → orders → items (the reference allows
    arbitrary attribute-chain depth — ``d.jets.tracks``-style; SURVEY.md
    §1).  Built from ``orders_nested`` by one more groupBy-collect on
    ``o_custkey``; inner joins at both levels so both engines see the same
    universe.  Element order is deterministic: ``o_orderkey`` (unique)
    leads the order struct, so ``sort_array`` needs no tie-breaking.

    Scale: two shuffles total (items→orders, orders→customer), each with
    map-side combine; at 100 TB this view is written once bucketed by
    ``c_custkey`` and every two-level query after that is shuffle-free."""
    def build() -> SDF:
        cust = load_table(spark, sf_dir, "customer")
        nested = orders_nested(spark, sf_dir)
        per_cust = nested.groupBy("o_custkey").agg(
            F.sort_array(
                F.collect_list(
                    F.struct("o_orderkey", "o_totalprice", "o_orderdate", "items")
                )
            ).alias("orders")
        )
        return cust.join(
            per_cust, cust.c_custkey == per_cust.o_custkey, "inner"
        ).drop("o_custkey")

    return _materialize(
        spark,
        sf_dir,
        "customer_nested",
        build,
        tables=("orders", "lineitem", "customer"),
    )


# DuckDB mirror of customer_nested — prepend to every two-level oracle.
CUSTOMER_NESTED_SQL = """
WITH orders_items AS (
  SELECT l_orderkey,
         list(struct_pack(
             l_linenumber := l_linenumber,
             l_quantity := l_quantity,
             l_extendedprice := l_extendedprice,
             l_discount := l_discount,
             l_tax := l_tax,
             l_returnflag := l_returnflag,
             l_shipdate := l_shipdate)
             ORDER BY l_linenumber, l_quantity, l_extendedprice,
                      l_discount, l_tax, l_returnflag, l_shipdate) AS items
  FROM lineitem GROUP BY l_orderkey
),
customer_nested AS (
  SELECT c.*, co.orders
  FROM customer c
  JOIN (
    SELECT o.o_custkey,
           list(struct_pack(
               o_orderkey := o.o_orderkey,
               o_totalprice := o.o_totalprice,
               o_orderdate := o.o_orderdate,
               items := li.items)
               ORDER BY o.o_orderkey) AS orders
    FROM orders o JOIN orders_items li ON li.l_orderkey = o.o_orderkey
    GROUP BY o.o_custkey
  ) co ON co.o_custkey = c.c_custkey
)
"""


# DuckDB mirror of orders_nested — prepend to every nested-query oracle.
ORDERS_NESTED_SQL = """
WITH orders_nested AS (
  SELECT o.o_orderkey, o.o_custkey, o.o_orderstatus, o.o_totalprice,
         o.o_orderdate, o.o_orderpriority, li.items
  FROM orders o
  JOIN (
    SELECT l_orderkey,
           list(struct_pack(
               l_linenumber := l_linenumber,
               l_quantity := l_quantity,
               l_extendedprice := l_extendedprice,
               l_discount := l_discount,
               l_tax := l_tax,
               l_returnflag := l_returnflag,
               l_shipdate := l_shipdate)
               -- full field order: l_linenumber is NOT unique per order in
               -- the testdata, and Spark's sort_array compares structs
               -- field-by-field — mirror that exactly or First() diverges
               ORDER BY l_linenumber, l_quantity, l_extendedprice,
                        l_discount, l_tax, l_returnflag, l_shipdate) AS items
    FROM lineitem GROUP BY l_orderkey
  ) li ON li.l_orderkey = o.o_orderkey
)
"""


def sweep_dead_pid_dirs(base: str, prefix: str) -> None:
    """Remove ``{base}/{prefix}*_{pid}`` dirs whose trailing pid is no
    longer alive — scratch left by crashed or killed runs.  Live pids
    (concurrent pytest/bench) are never touched; ours is recreated.

    The trailing segment must parse BELOW the kernel pid ceiling
    (/proc/sys/kernel/pid_max tops out at 2^22): an all-decimal content
    FINGERPRINT in a same-prefix write-once store name (10 hex chars are
    decimal ~0.9% of the time) must never be treated as a pid — that
    would either rmtree a live store or overflow os.kill (r6 review)."""
    import glob

    for d in glob.glob(os.path.join(base, prefix + "*")):
        pid_s = d.rsplit("_", 1)[-1]
        if not pid_s.isdigit() or int(pid_s) > (1 << 22):
            continue
        try:
            os.kill(int(pid_s), 0)
        except ProcessLookupError:
            shutil.rmtree(d, ignore_errors=True)
        except (PermissionError, OverflowError):
            pass  # alive under another uid / not a pid — leave it


def sweep_stale_store_dirs(base: str, prefix: str, keep: str) -> None:
    """Write-once stores are keyed on the testdata fingerprint, and the
    driver regenerates testdata between rounds — without a sweep every
    generation's store (and any crashed build's ``.tmp{pid}`` dir)
    accumulates forever (r6 review; the leak class the r5 advisor
    flagged for the restart scratch).  Removes every ``{base}/{prefix}*``
    entry except ``keep`` (the current fingerprint's store) and any
    in-flight ``.tmp{pid}`` build belonging to a LIVE pid."""
    import glob

    for d in glob.glob(os.path.join(base, prefix + "*")):
        if d == keep:
            continue
        tail = d.rsplit(".tmp", 1)
        if len(tail) == 2 and tail[1].isdigit() and int(tail[1]) <= (1 << 22):
            try:
                os.kill(int(tail[1]), 0)
                continue  # live concurrent build — leave it
            except ProcessLookupError:
                pass  # dead builder — fall through to sweep
            except PermissionError:
                continue  # ALIVE under another uid (kill probe denied,
                # pid exists) — same rule as sweep_dead_pid_dirs; r6
                # review: falling through here would rmtree a live
                # concurrent build owned by another user
        shutil.rmtree(d, ignore_errors=True)
