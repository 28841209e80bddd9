"""Tier 9 — round-11 continuation block: the table format's remaining
lakehouse capabilities, each driver-checkable end-to-end.

MERGE DELETE clauses (the last two of SQL MERGE's five clause kinds),
merge-on-read equality deletes with read-time anti-join resolution and
compaction, a change data feed (Delta-CDF-shaped: updates emit both
images), manifest-aware bucket compaction (the OPTIMIZE job), and
downstream incremental aggregate maintenance driven by the feed — the
materialized-view refresh a 100 TB pipeline runs instead of a full
recompute.

Reference parity note: gordonwatts/dataframe_expressions is a
capture-only front end (no engine, ~1.2 kLoC; see SURVEY.md §1), so
every operator here is extension scope — expressed Spark-first over
sources/mergetable.py's commit-log table format and oracle-checked like
tiers 2–8.

Oracle discipline (same as tiers 5–8): BIGINT casts on counts; doubles
emitted unrounded where both engines add identical IEEE operands
(DECIMAL(38,6)-folded sums cast once); identical aliases both sides;
write-once store builds keyed by testdata fingerprint with versioned
prefixes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame as SDF
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from ..sources.tables import load_table, read_parquet
from .registry import query

# Store prefixes for the streaming CDC loop, shared with the tests so a
# version bump can never leave the test validating a stale store from an
# older query version (round-12 ADVICE: the test hard-coded v1 after the
# query moved to v2).
STREAMFEED_TABLE_STEM = "streamfeed_v2"
STREAMFEED_STAGE_STEM = "feedstage_v2"


def _chg_sql(where: str = "") -> str:
    """The per-customer order-revenue change-set CTE shared by this
    tier's oracles — identical to the tier-8 custmerge change set (1/7
    of the keys shifted out of the dim's key space = the NOT MATCHED
    inserts) so oracles stay cross-checkable; ``where`` slots an
    optional ``WHERE ...`` clause BEFORE the shift/grouping (the Spark
    twin is ``_order_changes``; round-11 review deduplicated the six
    inline copies so the definitions cannot silently diverge)."""
    return f"""
    SELECT CASE WHEN o_custkey % 7 = 0 THEN o_custkey + 1000000
                ELSE o_custkey END AS k,
           CAST(sum(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS rev,
           CAST(count(*) AS BIGINT) AS n_o
    FROM orders {where} GROUP BY 1
"""


_CHG_SQL = _chg_sql()


def _merged_cte(chg_where: str = "") -> str:
    """WITH prefix (``chg`` + ``merged``) shared by every oracle stated
    over the merged ledger — the full-outer upsert of the customer dim
    with the order change set, carrying ``in_dim``/``in_chg``/
    ``v0_acctbal`` helper columns so clause-level filters (MERGE delete
    conditions over the PRE-merge state) stay expressible after the
    CTE.  Round-11 review: the merged SELECT was inlined six times
    across tier8/tier9 — an oracle fix could land in five copies and
    silently miss the sixth."""
    return f"""WITH chg AS ({_chg_sql(chg_where)}),
    merged AS (
    SELECT coalesce(c.c_custkey, g.k) AS c_custkey,
           CASE WHEN c.c_custkey IS NULL THEN 'NEW' ELSE c.c_name END
             AS c_name,
           CASE WHEN c.c_custkey IS NULL THEN g.rev
                WHEN g.k IS NULL THEN CAST(c.c_acctbal AS DOUBLE)
                ELSE CAST(c.c_acctbal AS DOUBLE) + g.rev END AS acctbal,
           coalesce(g.n_o, CAST(0 AS BIGINT)) AS n_orders,
           CAST(c.c_acctbal AS DOUBLE) AS v0_acctbal,
           (c.c_custkey IS NOT NULL) AS in_dim,
           (g.k IS NOT NULL) AS in_chg
    FROM customer c FULL OUTER JOIN chg g ON c.c_custkey = g.k)
    """


def _customer_v0(spark: SparkSession, sf_dir: str) -> SDF:
    """The v0 ledger projection every merge-table build in this tier
    starts from (mirrors tier8's _ensure_merge_table v0)."""
    return load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_name",
        F.col("c_acctbal").cast("double").alias("acctbal"),
        F.lit(0).cast("long").alias("n_orders"),
    )


def _order_changes(spark: SparkSession, sf_dir: str, where=None) -> SDF:
    orders = load_table(spark, sf_dir, "orders")
    if where is not None:
        orders = orders.where(where)
    return orders.groupBy(
        F.when(F.col("o_custkey") % 7 == 0, F.col("o_custkey") + 1000000)
        .otherwise(F.col("o_custkey"))
        .alias("c_custkey")
    ).agg(
        F.sum(F.col("o_totalprice").cast("decimal(38,6)"))
        .cast("double")
        .alias("rev"),
        F.count(F.lit(1)).cast("long").alias("n_o"),
    )


def _table_root(sf_dir: str, prefix_stem: str, tables=("customer", "orders")):
    from ..sources.tables import store_path

    return store_path(sf_dir, f"table_{prefix_stem}", tables)


# ---------------------------------------------------------------------------
# MERGE with DELETE clauses
# ---------------------------------------------------------------------------


@query(
    "table_merge_delete",
    _merged_cte() + """
    SELECT c_custkey, c_name, acctbal, n_orders FROM merged
    WHERE NOT (in_dim AND in_chg AND v0_acctbal < 0)
      AND NOT (in_dim AND NOT in_chg AND v0_acctbal < -900)
    """,
)
def table_merge_delete(spark: SparkSession, sf_dir: str) -> SDF:
    """MERGE with DELETE clauses on the copy-on-write table (round 11 —
    the last two of SQL MERGE's five clause kinds): WHEN MATCHED AND
    ``t.acctbal < 0`` THEN DELETE (purge negative-balance customers the
    moment a change arrives for them — delete takes precedence over the
    update clause, Delta's conditional-delete-first order), WHEN MATCHED
    UPDATE the revenue ledger, WHEN NOT MATCHED INSERT, and WHEN NOT
    MATCHED BY SOURCE AND ``t.acctbal < -900`` THEN DELETE (retire
    deeply-negative dormant accounts).  The returned frame is the
    READ-BACK of the committed v1, so the oracle checks the full
    five-clause write → commit → read round trip.

    Plan: both delete clauses lower to ONE extra filter on the same
    one-shuffle merge cogroup (sources/mergetable.py merge_into) — no
    second shuffle; at 100 TB a MERGE with deletes costs exactly
    what a MERGE without them costs, which is why lakehouse CDC
    pipelines fold retention rules into the merge instead of running a
    separate DELETE pass."""
    from ..sources.mergetable import (
        commit_snapshot,
        latest_version,
        merge_into,
        read_version,
    )

    root = _table_root(sf_dir, "custdelete_v1")
    if (latest_version(root) or -1) < 1:
        commit_snapshot(
            _customer_v0(spark, sf_dir), root, 0, meta={"op": "create"}
        )
        merged = merge_into(
            read_version(spark, root, 0),
            _order_changes(spark, sf_dir),
            on="c_custkey",
            matched_update={
                "acctbal": "t.acctbal + s.rev",
                "n_orders": "t.n_orders + s.n_o",
            },
            not_matched_insert={
                "c_name": "'NEW'",
                "acctbal": "s.rev",
                "n_orders": "s.n_o",
            },
            matched_delete="t.acctbal < 0",
            not_matched_by_source_delete="t.acctbal < -900",
        )
        commit_snapshot(merged, root, 1, meta={"op": "merge+delete"})
    return read_version(spark, root, 1)


# ---------------------------------------------------------------------------
# merge-on-read equality deletes
# ---------------------------------------------------------------------------


@query(
    "table_delete_mor",
    """
    SELECT c_custkey, c_name, c_mktsegment,
           CAST(c_acctbal AS DOUBLE) AS acctbal
    FROM customer
    WHERE NOT (CAST(c_acctbal AS DOUBLE) < 0)
      AND NOT (c_mktsegment = 'BUILDING')
    """,
)
def table_delete_mor(spark: SparkSession, sf_dir: str) -> SDF:
    """MERGE-ON-READ equality deletes (round 11): two chained
    ``DELETE WHERE`` commits — negative balances at v1, the BUILDING
    segment at v2 — each writing ONLY the deleted keys (the Iceberg
    equality-delete / Delta deletion-vector idea on the commit log);
    the returned frame is the resolved latest version, whose read plan
    is the v0 parquet scan plus two BROADCAST ANTI-JOINS, zero data
    files rewritten.

    Scale: a delete matching k keys in a 100 TB table writes O(k)
    bytes; the read tax is one broadcast anti-join per uncompacted
    delete commit, retired by ``compact_mor`` when it outweighs the
    write savings (tests/test_mergetable.py covers the compaction
    identity and vacuum's chain closure — a kept delete version keeps
    its base chain alive).  Predicates are evaluated against the
    RESOLVED state, so chains compose exactly like sequential SQL
    DELETEs, which is what the oracle states."""
    from ..sources.mergetable import (
        commit_mor_delete,
        commit_snapshot,
        latest_version,
        read_version,
    )

    root = _table_root(sf_dir, "custmor_v1", tables=("customer",))
    # `is None`, not `(... or -1) < 0`: latest == 0 is falsy, so the
    # `or` idiom would re-enter the build branch forever at v0
    # (round-11 review)
    if latest_version(root) is None:
        cust = load_table(spark, sf_dir, "customer")
        v0 = cust.select(
            "c_custkey",
            "c_name",
            "c_mktsegment",
            F.col("c_acctbal").cast("double").alias("acctbal"),
        )
        commit_snapshot(v0, root, 0, meta={"op": "create"})
    if (latest_version(root) or -1) < 1:
        commit_mor_delete(spark, root, "acctbal < 0", on="c_custkey")
    if (latest_version(root) or -1) < 2:
        commit_mor_delete(
            spark, root, "c_mktsegment = 'BUILDING'", on="c_custkey"
        )
    return read_version(spark, root, 2)


# ---------------------------------------------------------------------------
# change data feed
# ---------------------------------------------------------------------------


@query(
    "table_change_feed",
    f"""
    WITH chg AS ({_CHG_SQL}),
    v0 AS (SELECT c_custkey, c_name, CAST(c_acctbal AS DOUBLE) AS acctbal,
                  CAST(0 AS BIGINT) AS n_orders FROM customer)
    SELECT g.k AS c_custkey, 'NEW' AS c_name, g.rev AS acctbal,
           g.n_o AS n_orders, 'insert' AS change_type
    FROM chg g LEFT JOIN v0 c ON c.c_custkey = g.k
    WHERE c.c_custkey IS NULL
    UNION ALL
    SELECT c.c_custkey, c.c_name, c.acctbal, c.n_orders,
           'update_preimage' AS change_type
    FROM v0 c JOIN chg g ON c.c_custkey = g.k
    UNION ALL
    SELECT c.c_custkey, c.c_name, c.acctbal + g.rev, g.n_o,
           'update_postimage' AS change_type
    FROM v0 c JOIN chg g ON c.c_custkey = g.k
    """,
)
def table_change_feed(spark: SparkSession, sf_dir: str) -> SDF:
    """CHANGE DATA FEED v0 → v1 of the merge table (round 11): the
    key-level diff of the committed MERGE, one row per change —
    inserts carry the post-image, updates carry BOTH images (the Delta
    CDF contract; pre-images are what make downstream incremental
    aggregation possible), unchanged customers emit nothing, and this
    MERGE deletes nothing so no delete rows appear (the kernel's
    delete/evolution paths are unit-tested in tests/test_mergetable.py).

    Plan: ONE cogroup of the two snapshots on the key (the null-safe
    full-outer join's pairs, one shuffle); classification and both
    images are built in a single projection (an array of change
    structs, exploded) — no second pass.
    On a BUCKETED table the feed reads only buckets whose manifest
    entries differ (by-reference buckets are provably unchanged:
    immutable files, identical paths), so a k-of-B-bucket merge yields
    a feed that scans 2k/B of the table — the same amplification bound
    as the bucketed MERGE itself; that fast path is asserted via
    inputFiles() in the unit tests."""
    from ..sources.mergetable import table_changes
    from .tier8 import _ensure_merge_table

    root = _ensure_merge_table(spark, sf_dir)
    return table_changes(spark, root, 0, 1, on="c_custkey")


# ---------------------------------------------------------------------------
# multi-commit feed consumption
# ---------------------------------------------------------------------------


@query(
    "table_feed_versions",
    f"""
    WITH chg0 AS ({_chg_sql("WHERE o_orderkey % 2 = 0")}),
    chg1 AS ({_chg_sql("WHERE o_orderkey % 2 = 1")}),
    v0 AS (SELECT c_custkey, c_name, CAST(c_acctbal AS DOUBLE) AS acctbal,
                  CAST(0 AS BIGINT) AS n_orders FROM customer),
    v1 AS (SELECT coalesce(c.c_custkey, g.k) AS c_custkey,
                  CASE WHEN c.c_custkey IS NULL THEN 'NEW'
                       ELSE c.c_name END AS c_name,
                  CASE WHEN c.c_custkey IS NULL THEN g.rev
                       WHEN g.k IS NULL THEN c.acctbal
                       ELSE c.acctbal + g.rev END AS acctbal,
                  CASE WHEN c.c_custkey IS NULL THEN g.n_o
                       WHEN g.k IS NULL THEN c.n_orders
                       ELSE c.n_orders + g.n_o END AS n_orders
           FROM v0 c FULL OUTER JOIN chg0 g ON c.c_custkey = g.k)
    SELECT g.k AS c_custkey, 'NEW' AS c_name, g.rev AS acctbal,
           g.n_o AS n_orders, 'insert' AS change_type,
           CAST(1 AS BIGINT) AS _commit_version
    FROM chg0 g LEFT JOIN v0 c ON c.c_custkey = g.k
    WHERE c.c_custkey IS NULL
    UNION ALL
    SELECT c.c_custkey, c.c_name, c.acctbal, c.n_orders,
           'update_preimage', CAST(1 AS BIGINT)
    FROM v0 c JOIN chg0 g ON c.c_custkey = g.k
    UNION ALL
    SELECT c.c_custkey, c.c_name, c.acctbal + g.rev, c.n_orders + g.n_o,
           'update_postimage', CAST(1 AS BIGINT)
    FROM v0 c JOIN chg0 g ON c.c_custkey = g.k
    UNION ALL
    SELECT g.k, 'NEW', g.rev, g.n_o, 'insert', CAST(2 AS BIGINT)
    FROM chg1 g LEFT JOIN v1 c ON c.c_custkey = g.k
    WHERE c.c_custkey IS NULL
    UNION ALL
    SELECT c.c_custkey, c.c_name, c.acctbal, c.n_orders,
           'update_preimage', CAST(2 AS BIGINT)
    FROM v1 c JOIN chg1 g ON c.c_custkey = g.k
    UNION ALL
    SELECT c.c_custkey, c.c_name, c.acctbal + g.rev, c.n_orders + g.n_o,
           'update_postimage', CAST(2 AS BIGINT)
    FROM v1 c JOIN chg1 g ON c.c_custkey = g.k
    """,
)
def table_feed_versions(spark: SparkSession, sf_dir: str) -> SDF:
    """MULTI-COMMIT CHANGE FEED CONSUMPTION (round 11):
    ``feed_since(root, 0)`` over a table that accrued TWO merge commits
    — v1 merges the even-orderkey half of the order ledger, v2 the odd
    half — returning every change row stamped with its
    ``_commit_version``, in exactly the shape an incremental consumer
    (a downstream sync, a search indexer, a feature store) replays:
    Delta's ``readChangeFeed startingVersion`` semantics on the commit
    log.  A key updated in both commits appears four times (pre/post
    per commit) with the v2 pre-image equal to the v1 post-image — the
    feed is CONSISTENT across commits, which the oracle (the two diffs
    stated directly over the v0/v1 CTE chain) proves by hash.

    Scale: the feed costs the SUM of per-step diffs — one one-shuffle
    cogroup per commit over exactly the versions involved; for bucketed
    tables each step reads only manifest-differing buckets, so
    consuming a day of k-bucket merges is O(k × commits), never
    O(table × commits).  Versions are immutable, so any range's feed
    is deterministic forever — re-consumption is idempotent by
    construction."""
    from ..sources.mergetable import (
        commit_snapshot,
        feed_since,
        latest_version,
        merge_into,
        read_version,
    )

    root = _table_root(sf_dir, "custfeed_v1")
    clauses = dict(
        matched_update={
            "acctbal": "t.acctbal + s.rev",
            "n_orders": "t.n_orders + s.n_o",
        },
        not_matched_insert={
            "c_name": "'NEW'",
            "acctbal": "s.rev",
            "n_orders": "s.n_o",
        },
    )
    if (latest_version(root) or -1) < 1:
        commit_snapshot(
            _customer_v0(spark, sf_dir), root, 0, meta={"op": "create"}
        )
        commit_snapshot(
            merge_into(
                read_version(spark, root, 0),
                _order_changes(
                    spark, sf_dir, where=F.col("o_orderkey") % 2 == 0
                ),
                on="c_custkey",
                **clauses,
            ),
            root,
            1,
            meta={"op": "merge-even"},
        )
    if (latest_version(root) or -1) < 2:
        commit_snapshot(
            merge_into(
                read_version(spark, root, 1),
                _order_changes(
                    spark, sf_dir, where=F.col("o_orderkey") % 2 == 1
                ),
                on="c_custkey",
                **clauses,
            ),
            root,
            2,
            meta={"op": "merge-odd"},
        )
    return feed_since(spark, root, 0, on="c_custkey")


# ---------------------------------------------------------------------------
# incremental aggregate maintenance from the feed
# ---------------------------------------------------------------------------


@query(
    "table_incremental_agg",
    _merged_cte() + """
    SELECT CAST(c_custkey % 10 AS BIGINT) AS grp,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(n_orders) AS BIGINT) AS total_orders
    FROM merged GROUP BY 1
    """,
)
def table_incremental_agg(spark: SparkSession, sf_dir: str) -> SDF:
    """INCREMENTAL AGGREGATE MAINTENANCE from the change feed (round
    11): a downstream per-key-group rollup (rows + total orders by the
    customer key's last digit) maintained WITHOUT re-aggregating v1 —
    the v0 aggregate plus signed deltas from ``table_changes(0, 1)``:
    +1 for inserts and update post-images, −1 for deletes and update
    pre-images.  The oracle is the DIRECT aggregate over the merged
    state, so the hash check proves delta maintenance ≡ full recompute
    — the materialized-view refresh identity.

    Scale: this is why the feed emits pre-images — the refresh cost is
    O(change set), not O(table): at 100 TB a daily MERGE touching 0.1%
    of rows refreshes downstream aggregates a thousand times cheaper
    than recompute, and every measure here is exact-integer arithmetic
    so the identity is bitwise, not approximate.  The maintained
    aggregate shuffles only the change set (one groupBy) plus the
    group-sized join against the v0 aggregate."""
    from ..sources.mergetable import read_version, table_changes
    from .tier8 import _ensure_merge_table

    root = _ensure_merge_table(spark, sf_dir)
    v0 = read_version(spark, root, 0)
    agg0 = v0.groupBy((F.col("c_custkey") % 10).alias("grp")).agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum("n_orders").cast("long").alias("total_orders"),
    )
    ch = table_changes(spark, root, 0, 1, on="c_custkey")
    sign = F.when(
        F.col("change_type").isin("insert", "update_postimage"), F.lit(1)
    ).otherwise(F.lit(-1))
    delta = ch.groupBy((F.col("c_custkey") % 10).alias("grp")).agg(
        F.sum(sign).cast("long").alias("dn"),
        F.sum(sign * F.col("n_orders")).cast("long").alias("dord"),
    )
    zero = F.lit(0).cast("long")
    return agg0.join(delta, "grp", "full_outer").select(
        F.col("grp").cast("long").alias("grp"),
        (F.coalesce(F.col("n_rows"), zero) + F.coalesce(F.col("dn"), zero))
        .cast("long")
        .alias("n_rows"),
        (
            F.coalesce(F.col("total_orders"), zero)
            + F.coalesce(F.col("dord"), zero)
        )
        .cast("long")
        .alias("total_orders"),
    )


# ---------------------------------------------------------------------------
# capture DSL over the table format
# ---------------------------------------------------------------------------


@query(
    "dsl_table_pipeline",
    _merged_cte() + """
    SELECT c_custkey, c_name, acctbal, n_orders,
           acctbal / n_orders AS avg_rev
    FROM merged WHERE n_orders > 0 AND acctbal > 1000
    """,
)
def dsl_table_pipeline(spark: SparkSession, sf_dir: str) -> SDF:
    """THE CAPTURE DSL OVER THE TABLE FORMAT (round 11 continuation):
    the repo's two flagship layers composed — a DSL mask + computed
    projection over the copy-on-write table's committed v1 read-back:
    ``d[(d.n_orders > 0) & (d.acctbal > 1000)]`` with
    ``avg_rev = d.acctbal / d.n_orders``.  The lowering layer binds ANY
    Spark DataFrame as a source, so versioned table reads compose with
    captured expressions for free — a user curates with the DSL over
    governed, time-travelable tables exactly as over raw parquet.

    Scale: the captured mask lowers to a ``.where`` directly over the
    snapshot's parquet scan, so both predicates reach the reader as
    PushedFilters (asserted in tests/test_plans.py) — version
    resolution is one driver-side marker listing, and nothing about the
    table layer blunts Catalyst's pruning/pushdown on the read path."""
    from ..plans.lowering import select_from
    from ..plans.nodes import DataFrame as CaptureFrame
    from ..sources.mergetable import read_version
    from .tier8 import _ensure_merge_table

    root = _ensure_merge_table(spark, sf_dir)
    tbl = read_version(spark, root, 1)
    d = CaptureFrame()
    active = d[(d.n_orders > 0) & (d.acctbal > 1000.0)]
    return select_from(
        {d: tbl},
        active,
        c_custkey=d.c_custkey,
        c_name=d.c_name,
        acctbal=d.acctbal,
        n_orders=d.n_orders,
        avg_rev=d.acctbal / d.n_orders,
    )


# ---------------------------------------------------------------------------
# capture DSL writing the table format
# ---------------------------------------------------------------------------


@query(
    "dsl_table_write",
    """
    WITH dim AS (SELECT c_custkey, c_name,
                        CAST(c_acctbal AS DOUBLE) AS acctbal
                 FROM customer WHERE c_custkey % 3 <> 0),
    chg AS (SELECT o_custkey AS k,
                   CAST(sum(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE)
                     AS rev
            FROM orders GROUP BY 1)
    SELECT coalesce(c.c_custkey, g.k) AS c_custkey,
           CASE WHEN c.c_custkey IS NULL THEN 'NEW' ELSE c.c_name END
             AS c_name,
           CASE WHEN c.c_custkey IS NULL THEN g.rev
                WHEN g.k IS NULL THEN c.acctbal
                ELSE c.acctbal + g.rev END AS acctbal
    FROM dim c FULL OUTER JOIN chg g ON c.c_custkey = g.k
    """,
)
def dsl_table_write(spark: SparkSession, sf_dir: str) -> SDF:
    """THE CAPTURE DSL WRITING THE TABLE FORMAT (round 12, r11 VERDICT
    item 7 — the write-side complement of ``dsl_table_pipeline``): a
    captured mask+projection pipeline over the customer dim LANDS as a
    bucketed table v0 via the ``write_table`` verb, then a captured
    groupBy change set over orders MERGEs into it via the
    ``merge_into`` verb — both verbs lowering BY DELEGATION to the
    proven mergetable kernels (``commit_bucketed`` and the OCC
    ``merge_into_bucketed``), so a DSL-authored curation
    pipeline lands in a governed, versioned, time-travelable table with
    zero new write-path code.  The dim drops every third customer, so
    the merge exercises matched updates AND inserts ('NEW' rows);
    delegation identity vs the direct mergetable calls is asserted in
    tests/test_lowering.py.

    Scale: the verbs ADD nothing to the kernels' cost — the v0 write is
    one bucket-partitioned shuffle, the merge rewrites only touched
    buckets under OCC write-set detection; lowering is the DSL's action
    boundary, so each verb commits exactly once per session (memoized),
    and idempotence across runs is the standard write-once guard."""
    from ..plans.lowering import select_from
    from ..plans.nodes import DataFrame as CaptureFrame
    from ..sources.mergetable import latest_version, read_bucketed

    root = _table_root(sf_dir, "dslwrite_v1")
    if (latest_version(root) or -1) < 1:
        import shutil

        shutil.rmtree(root, ignore_errors=True)  # partial build: restart
        d = CaptureFrame()
        dim = d[(d.c_custkey % 3) != 0].select(
            c_custkey=d.c_custkey,
            c_name=d.c_name,
            acctbal=d.c_acctbal.cast("double"),
        )
        created = dim.write_table(
            root, bucket_on="c_custkey", n_buckets=16, hashed=False
        )
        select_from(
            {d: load_table(spark, sf_dir, "customer")}, created
        )  # lowering IS the action: commits v0
        o = CaptureFrame()
        chg = o.groupby(c_custkey=o.o_custkey).agg(
            rev=o.o_totalprice.Sum()
        )
        final = chg.merge_into(
            root,
            matched_update={"acctbal": "t.acctbal + s.rev"},
            not_matched_insert={"c_name": "'NEW'", "acctbal": "s.rev"},
        )
        select_from(
            {o: load_table(spark, sf_dir, "orders")}, final
        )  # commits v1 through the OCC merge
    return read_bucketed(spark, root, 1)


@query(
    "table_maintenance_concurrent",
    _merged_cte("WHERE o_custkey % 16 < 2") + """
    SELECT c_custkey, c_name, acctbal, n_orders FROM merged
    """,
)
def table_maintenance_concurrent(spark: SparkSession, sf_dir: str) -> SDF:
    """MAINTENANCE COMMITS UNDER THE OCC PROTOCOL, raced end-to-end
    (round 13, r12 VERDICT item 1 — the driver-checkable face of the
    round's lead item): v0 commits the customer dim deliberately
    fragmented, then an OPTIMIZE (``compact_buckets``) and a
    bucket-scoped OCC MERGE run in GENUINELY CONCURRENT threads
    against the same table.  Round 12's gap was exactly this race:
    compaction published through a replace-semantics marker rename
    outside the claim loop, so it could silently replace the merge's
    just-published marker.  Both ops now claim version slots through
    the shared OCC loop and publish if-absent — whichever loses a
    claim rebases (disjoint write-sets) or recomputes (overlap), and
    BOTH land (or conflict loudly after bounded retries; at tiny
    scale factors compaction may find nothing fragmented and no-op,
    which leaves content identical).  The returned frame is the final
    latest version's read-back; the oracle is the merged content —
    compaction is content-neutral, so a lost update, a replaced
    marker, or a partial rewrite hash-mismatches REGARDLESS of which
    op landed last.

    Scale: this is the 100 TB operating reality — admin OPTIMIZE jobs
    race live ingest continuously; the protocol prices the race at
    one marker read + one rename retry on rebase, one bucket-set
    recompute on true overlap, and never a table lock.  The race
    matrix (restore×merge, compact×merge, marker-never-replaced
    sentinel, fence permanence) lives in tests/test_mergetable.py."""
    import threading

    from ..sources.mergetable import (
        commit_bucketed,
        commit_meta,
        committed_versions,
        compact_buckets,
        merge_into_bucketed,
        read_bucketed,
    )

    def _merge_landed(r: str) -> bool:
        # the build is complete only when the MERGE committed — a run
        # that died after the compaction commit but before the merge
        # would otherwise leave a store whose latest is compacted-but-
        # unmerged content, silently wrong on every rerun (round-13
        # review: `latest >= 1` treated compact-only as fully built)
        return any(
            commit_meta(r, n).get("op") == "merge"
            for n in committed_versions(r)
        )

    root = _table_root(sf_dir, "custmaint_v1")
    if not _merge_landed(root):
        import shutil

        shutil.rmtree(root, ignore_errors=True)  # partial build: restart
        commit_bucketed(
            _customer_v0(spark, sf_dir), root, 0, on="c_custkey",
            n_buckets=16, hashed=False, stats_key="c_custkey", n_files=48,
            meta={"op": "create"},
        )
        chg = _order_changes(
            spark, sf_dir, where=F.col("o_custkey") % 16 < 2
        )
        errors: list = []
        barrier = threading.Barrier(2)

        def merger():
            try:
                barrier.wait(timeout=300)
                merge_into_bucketed(
                    spark, root, chg,
                    matched_update={
                        "acctbal": "t.acctbal + s.rev",
                        "n_orders": "t.n_orders + s.n_o",
                    },
                    not_matched_insert={
                        "c_name": "'NEW'",
                        "acctbal": "s.rev",
                        "n_orders": "s.n_o",
                    },
                    meta={"op": "merge"},
                )
            except Exception as e:  # noqa: BLE001 — re-raised below
                errors.append(e)

        def compacter():
            try:
                barrier.wait(timeout=300)
                compact_buckets(spark, root, max_files=1,
                                meta={"op": "compact"})
            except Exception as e:  # noqa: BLE001 — re-raised below
                errors.append(e)

        threads = [
            threading.Thread(target=merger),
            threading.Thread(target=compacter),
        ]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=600)
        if any(t.is_alive() for t in threads):
            # a silently-abandoned thread would let the read below see
            # a mid-maintenance version (round-13 review) — and could
            # commit AFTER this query returned
            raise RuntimeError(
                "maintenance race did not finish within the join "
                "timeout — refusing to read a mid-maintenance version"
            )
        if errors:
            raise errors[0]
    return read_bucketed(spark, root)


@query(
    "dsl_changes_feed",
    f"""
    WITH chg AS ({_CHG_SQL}),
    v0 AS (SELECT c_custkey, c_name, CAST(c_acctbal AS DOUBLE) AS acctbal,
                  CAST(0 AS BIGINT) AS n_orders FROM customer)
    SELECT g.k AS c_custkey, g.rev AS acctbal, g.n_o AS n_orders,
           'insert' AS change_type
    FROM chg g LEFT JOIN v0 c ON c.c_custkey = g.k
    WHERE c.c_custkey IS NULL
    UNION ALL
    SELECT c.c_custkey, c.acctbal + g.rev, g.n_o, 'update_postimage'
    FROM v0 c JOIN chg g ON c.c_custkey = g.k
    """,
)
def dsl_changes_feed(spark: SparkSession, sf_dir: str) -> SDF:
    """THE CAPTURE DSL READING THE CHANGE FEED (round 13, r12 VERDICT
    item 8 — the incremental read that completes the DSL's table
    surface: snapshot reads bind via select_from, writes land via
    write_table/merge_into, and ``d.changes(root, since=)`` now binds
    the CHANGE DATA FEED as a capturable frame).  The pipeline is the
    canonical incremental-consumer shape: the feed over ``(0, latest]``
    filtered BY CAPTURED EXPRESSIONS to the post-side images (inserts +
    update postimages — what a downstream materialization applies),
    projected through ordinary DSL attribute refs including the
    ``_commit_version`` cursor column.  Row identity vs a direct
    ``feed_since`` call and the caught-up empty frame are asserted in
    tests/test_lowering.py.

    Scale: the verb lowers BY DELEGATION to ``feed_since`` — per-commit
    manifest-diff reads (O(touched buckets) per commit, never
    O(table)), with the captured mask applied as an ordinary filter
    over the exploded change structs; a captured curation pipeline can
    therefore re-run daily reading ONLY the new commits' changes and
    land its output through the write verbs — incremental end-to-end
    with zero bespoke plumbing."""
    from ..plans.lowering import select_from
    from ..plans.nodes import DataFrame as CaptureFrame
    from ..sources.mergetable import read_version
    from .tier8 import _ensure_merge_table

    root = _ensure_merge_table(spark, sf_dir)
    d = CaptureFrame()
    # to=1 pins the consumer's upper cursor: the shared table may carry
    # later commits (table_merge_evolve's v2) this consumer has not
    # been asked for — exactly how a real incremental consumer reads
    feed = d.changes(root, since=0, to=1, on="c_custkey")
    post = feed[
        (feed.change_type == "insert")
        | (feed.change_type == "update_postimage")
    ]
    return select_from(
        {d: read_version(spark, root, 0)},
        post,
        c_custkey=feed.c_custkey,
        acctbal=feed.acctbal,
        n_orders=feed.n_orders,
        change_type=feed.change_type,
    )


# ---------------------------------------------------------------------------
# streaming CDC loop: upsert in, feed out, downstream maintained
# ---------------------------------------------------------------------------


@query(
    "stream_feed_consume",
    """
    SELECT CAST(user_id % 10 AS BIGINT) AS grp,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(count(*) AS BIGINT) AS total_events
    FROM events WHERE user_id IS NOT NULL GROUP BY 1
    """,
)
def stream_feed_consume(spark: SparkSession, sf_dir: str) -> SDF:
    """THE FULL LAKEHOUSE CDC LOOP, streaming (round 11 continuation):
    each micro-batch (1) MERGEs its per-user change set into the
    upstream ledger table — one commit per batch, batch_id-guarded
    exactly-once (the stream_table_upsert recipe) — and then (2)
    CONSUMES the upstream CHANGE FEED it just produced,
    ``feed_since(consumed_through, latest)``, folding signed deltas
    (+1 insert/post-image, −1 delete/pre-image) into a DOWNSTREAM
    versioned table whose marker records ``consumed_through``.  The
    returned frame is the downstream read-back; the oracle is the
    direct rollup over ALL events, so the hash proves the entire
    in → feed → out chain end-to-end: any missed batch, double-applied
    delta, or wrong image sign mismatches.

    Exactly-once on BOTH hops without a transactional sink: upstream
    replays are skipped by the marker batch_id; the downstream guard is
    version-based, not batch-based — it consumes whatever feed range
    ``(consumed_through, upstream latest]`` is outstanding, so a crash
    BETWEEN the two commits self-heals on the next batch (the replay
    skips the upstream commit but the feed gap is still consumed).
    The caught-up case (no outstanding range) is the steady state and
    returns an empty frame, not an error.

    Scale: per batch the upstream merge shuffles only the batch's
    change set; the feed diff joins exactly the two versions involved;
    the downstream merge is GROUP-sized (10 rows here).  The downstream
    measures are exact integers, so maintenance ≡ recompute bitwise —
    at 100 TB this loop is how derived tables track a mutating ledger
    at O(change set) per commit, never O(table)."""
    import os

    from ..sources.mergetable import (
        commit_meta,
        commit_snapshot,
        feed_since,
        latest_version,
        merge_into,
        read_version,
    )
    from ..sources.tables import (
        drain_staged_stream,
        store_path,
        write_done_marker,
        write_once_parquet,
    )

    root = _table_root(sf_dir, STREAMFEED_TABLE_STEM, tables=("events",))
    src = store_path(sf_dir, STREAMFEED_STAGE_STEM, ("events",))
    up, down = os.path.join(root, "up"), os.path.join(root, "down")
    done = os.path.join(root, "_stream_done")
    if not os.path.exists(done):
        os.makedirs(root, exist_ok=True)
        # keyed CDC stream: only the key column is staged (nothing
        # downstream reads anything else — round-11 review), and
        # NULL-key events are dropped at ingest so the n_users fold
        # matches count(DISTINCT), which ignores NULLs, on any future
        # events vintage
        write_once_parquet(
            load_table(spark, sf_dir, "events")
            .where(F.col("user_id").isNotNull())
            .select("user_id"),
            src,
        )
        if latest_version(up) is None:
            commit_snapshot(
                spark.createDataFrame([], "user_id long, n_events long"),
                up, 0, meta={"op": "create"}, n_files=1,
            )
        if latest_version(down) is None:
            commit_snapshot(
                spark.createDataFrame(
                    [], "grp long, n_users long, total_events long"
                ),
                down, 0, meta={"op": "create", "consumed_through": 0},
                n_files=1,
            )
        def loop(batch_df: SDF, batch_id: int) -> None:
            # hop 1: CDC in — batch_id-guarded upstream MERGE commit
            cur = latest_version(up)
            if commit_meta(up, cur).get("batch_id", -1) < batch_id:
                chg = batch_df.groupBy("user_id").agg(
                    F.count(F.lit(1)).cast("long").alias("bn")
                )
                commit_snapshot(
                    merge_into(
                        read_version(spark, up, cur),
                        chg,
                        on="user_id",
                        matched_update={
                            "n_events": "t.n_events + s.bn"
                        },
                        not_matched_insert={"n_events": "s.bn"},
                    ),
                    up, cur + 1, meta={"batch_id": batch_id}, n_files=4,
                )
            # hop 2: CDC out — consume whatever feed range is
            # outstanding (version-based guard: self-heals a crash
            # between the two commits; caught-up = empty feed)
            dcur = latest_version(down)
            seen = commit_meta(down, dcur).get("consumed_through", 0)
            upv = latest_version(up)
            if seen >= upv:
                return
            ch = feed_since(spark, up, seen, upv, on="user_id")
            sign = F.when(
                F.col("change_type").isin("insert", "update_postimage"),
                F.lit(1),
            ).otherwise(F.lit(-1))
            delta = ch.groupBy(
                (F.col("user_id") % 10).alias("grp")
            ).agg(
                F.sum(sign).cast("long").alias("du"),
                F.sum(sign * F.col("n_events")).cast("long").alias("de"),
            )
            commit_snapshot(
                merge_into(
                    read_version(spark, down, dcur),
                    delta,
                    on="grp",
                    matched_update={
                        "n_users": "t.n_users + s.du",
                        "total_events": "t.total_events + s.de",
                    },
                    not_matched_insert={
                        "n_users": "s.du",
                        "total_events": "s.de",
                    },
                ),
                down, dcur + 1,
                meta={"consumed_through": upv}, n_files=1,
            )

        drain_staged_stream(spark, src, loop, os.path.join(root, "_ckpt"))
        write_done_marker(done)
    return read_version(spark, down)


@query(
    "stream_dsl_changes",
    """
    WITH u AS (
      SELECT user_id,
             CAST(count(*) FILTER (WHERE event_id % 3 = 0) AS BIGINT) AS c0,
             CAST(count(*) FILTER (WHERE event_id % 3 = 1) AS BIGINT) AS c1,
             CAST(count(*) FILTER (WHERE event_id % 3 = 2) AS BIGINT) AS c2
      FROM events WHERE user_id IS NOT NULL GROUP BY 1)
    SELECT user_id, c0 + c1 AS n_events,
           CASE WHEN c0 > 0 THEN 'update_postimage' ELSE 'insert' END
             AS change_type,
           CAST(1 AS BIGINT) AS commit_version
    FROM u WHERE c1 > 0
    UNION ALL
    SELECT user_id, c0 + c1 + c2,
           CASE WHEN c0 + c1 > 0 THEN 'update_postimage' ELSE 'insert' END,
           CAST(2 AS BIGINT)
    FROM u WHERE c2 > 0
    """,
)
def stream_dsl_changes(spark: SparkSession, sf_dir: str) -> SDF:
    """THE CAPTURE DSL READING THE CHANGE FEED AS A STREAM (round 14,
    r13 VERDICT item 4 — the streaming twin of ``dsl_changes_feed``):
    ``d.changes(root, since=0, stream=True)`` binds the table's change
    feed as a STRUCTURED STREAMING source (streaming/table_source.py —
    offset = commit version, checkpointed), and the same captured
    post-image filter + projection that runs over the batch feed runs
    unchanged as an incremental micro-batch pipeline — Delta's
    ``readStream``-on-a-table, reachable from the DSL.

    The ledger accrues v0 + two bucket-scoped MERGEs (events sliced 3
    ways by event_id, so users span commits: updates AND inserts in
    the feed); the drained stream is the post-side images over
    ``(0, 2]`` with the ``_commit_version`` cursor projected — the
    batch-equivalent oracle recomputes both commit steps' post-images
    directly from events (the stream_dsl_* convention), so a missed
    step, duplicated batch or wrong image classification
    hash-mismatches.  Row/plan identity vs the RAW stream source and
    the stream=True guardrails are asserted in tests/test_lowering.py.

    Scale: the lowering layer is source-agnostic — the captured mask
    is an ordinary Column filter INSIDE each micro-batch (map-side,
    stateless), and the source plans one Arrow diff task per (commit,
    changed bucket): O(touched buckets) per poll, never O(table);
    checkpointed offsets make the daily incremental re-run exactly
    the outstanding version range."""
    import os
    import shutil

    from ..plans.lowering import select_from
    from ..plans.nodes import DataFrame as CaptureFrame
    from ..sources.mergetable import (
        commit_bucketed,
        latest_version,
        merge_into_bucketed,
        read_bucketed,
    )
    from ..streaming.windows import run_to_memory

    root = _table_root(sf_dir, "dslstream_v1", tables=("events",))
    up = os.path.join(root, "up")
    if (latest_version(up) or -1) < 2:
        shutil.rmtree(root, ignore_errors=True)
        os.makedirs(root, exist_ok=True)
        ev = load_table(spark, sf_dir, "events").where(
            F.col("user_id").isNotNull()
        )

        def ledger(i: int) -> SDF:
            return (
                ev.where(F.col("event_id") % 3 == i)
                .groupBy("user_id")
                .agg(F.count(F.lit(1)).cast("long").alias("n_events"))
            )

        commit_bucketed(
            ledger(0), up, 0, on="user_id", n_buckets=8, hashed=False,
            meta={"op": "create"},
        )
        for i in (1, 2):
            merge_into_bucketed(
                spark, up,
                ledger(i).withColumnRenamed("n_events", "bn"),
                matched_update={"n_events": "t.n_events + s.bn"},
                not_matched_insert={"n_events": "s.bn"},
                meta={"op": f"merge-slice-{i}"},
            )
    d = CaptureFrame()
    feed = d.changes(up, since=0, stream=True)
    post = feed[
        (feed.change_type == "insert")
        | (feed.change_type == "update_postimage")
    ]
    out = select_from(
        {d: read_bucketed(spark, up, 0)},
        post,
        user_id=feed.user_id,
        n_events=feed.n_events,
        change_type=feed.change_type,
        commit_version=feed._commit_version,
    )
    return run_to_memory(out, "append")


@query(
    "stream_writers_concurrent",
    """
    SELECT CAST(user_id % 12 AS BIGINT) AS grp,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(count(*) AS BIGINT) AS total_events,
           CAST(count(DISTINCT CASE WHEN user_id % 2 = 0 THEN user_id END)
                AS BIGINT) AS n_users_even,
           CAST(count(DISTINCT CASE WHEN user_id % 2 = 1 THEN user_id END)
                AS BIGINT) AS n_users_odd
    FROM events WHERE user_id IS NOT NULL GROUP BY 1
    """,
)
def stream_writers_concurrent(spark: SparkSession, sf_dir: str) -> SDF:
    """TWO CONCURRENT STREAMING WRITERS INTO ONE TABLE (round 14, r13
    VERDICT item 2 — composing what r12-r13 built): two ``foreachBatch``
    CDC streams over DISJOINT key ranges (even vs odd ``user_id``),
    each draining AvailableNow in its own REAL thread, both merging
    into the SAME bucketed ledger through ``merge_into_bucketed``.
    The modulo bucket layout maps the parity split to disjoint bucket
    write-sets, so every cross-writer claim collision takes the OCC
    REBASE path (manifest union, zero recompute) — the two exactly-once
    protocols compose: per-writer batch_id guards (replays of a batch
    skip, derived from the writers' OWN markers — the commit log is the
    source of truth) and OCC claim/rebase (no lost batch between
    writers).

    The seeded v0 holds only the EVEN users (zeroed), so the even
    writer exercises MATCHED updates while the odd writer exercises
    NOT MATCHED inserts into buckets the manifest has never seen.

    The returned frame is the final ledger's per-group rollup; the
    oracle is the all-events rollup, INDEPENDENT of landing order —
    a lost batch, a double-applied replay, or a lost update from a
    mis-rebased manifest all hash-mismatch.  The replay/idempotence
    composition is additionally unit-tested in
    tests/test_mergetable.py (test_stream_dual_writers_*).

    Scale: this is multi-tenant streaming ingest at 100 TB — N
    pipelines feeding one table serialize only at the marker put
    (claim + publish are two tiny conditional puts per commit; round
    14 made both object-store-ready via sources/commitstore.py), and
    rebases never touch data.  Per batch, the shuffle is the batch's
    change set; the merge rewrites only that writer's buckets."""
    import os
    import shutil
    import threading

    from ..sources.mergetable import (
        commit_bucketed,
        commit_meta,
        committed_versions,
        merge_into_bucketed,
        read_bucketed,
    )
    from ..sources.tables import (
        drain_staged_stream,
        store_path,
        write_done_marker,
        write_once_parquet,
    )

    root = _table_root(sf_dir, "streamdual_v1", tables=("events",))
    srcs = {tag: store_path(sf_dir, f"dualstage_v1_{tag}", ("events",))
            for tag in ("even", "odd")}
    done = os.path.join(root, "_stream_done")
    if not os.path.exists(done):
        # partial build (crashed mid-race) → rebuild from scratch: a
        # store with one writer's batches landed and the other's lost
        # would read back silently wrong (round-13 review discipline)
        shutil.rmtree(root, ignore_errors=True)
        events = load_table(spark, sf_dir, "events").where(
            F.col("user_id").isNotNull()
        )
        for tag, par in (("even", 0), ("odd", 1)):
            # 6 staged files × maxFilesPerTrigger=2 → 3 batches/writer
            write_once_parquet(
                events.where(F.col("user_id") % 2 == par).select("user_id"),
                srcs[tag],
                n_files=6,
            )
        commit_bucketed(
            events.where(F.col("user_id") % 2 == 0)
            .select("user_id").distinct()
            .withColumn("n_events", F.lit(0).cast("long")),
            root, 0, on="user_id", n_buckets=16, hashed=False,
            meta={"op": "create"},
        )

        def seen_batch(tag: str) -> int:
            # the writer's exactly-once high-water, re-derived from its
            # OWN markers (the commit log is the source of truth; a
            # checkpoint replay after a crash finds it here)
            return max(
                (
                    m.get("batch_id", -1)
                    for m in (
                        commit_meta(root, n)
                        for n in committed_versions(root)
                    )
                    if m.get("writer") == tag
                ),
                default=-1,
            )

        def mk_loop(tag: str):
            def loop(batch_df: SDF, batch_id: int) -> None:
                if seen_batch(tag) >= batch_id:
                    return  # replayed batch: already committed
                chg = batch_df.groupBy("user_id").agg(
                    F.count(F.lit(1)).cast("long").alias("bn")
                )
                merge_into_bucketed(
                    spark, root, chg,
                    matched_update={"n_events": "t.n_events + s.bn"},
                    not_matched_insert={"n_events": "s.bn"},
                    meta={"writer": tag, "batch_id": batch_id},
                )

            return loop

        errors: list = []
        barrier = threading.Barrier(2)

        def drain(tag: str) -> None:
            try:
                barrier.wait(timeout=300)
                drain_staged_stream(
                    spark, srcs[tag], mk_loop(tag),
                    os.path.join(root, f"_ckpt_{tag}"),
                )
            except Exception as e:  # noqa: BLE001 — re-raised below
                errors.append(e)

        threads = [
            threading.Thread(target=drain, args=(tag,))
            for tag in ("even", "odd")
        ]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=600)
        if any(t.is_alive() for t in threads):
            raise RuntimeError(
                "dual-writer drain did not finish within the join "
                "timeout — refusing to read a mid-ingest version"
            )
        if errors:
            raise errors[0]
        write_done_marker(done)
    led = read_bucketed(spark, root)
    par = F.col("user_id") % 2
    return led.groupBy((F.col("user_id") % 12).alias("grp")).agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.sum("n_events").cast("long").alias("total_events"),
        F.count(F.when(par == 0, F.lit(1))).cast("long")
        .alias("n_users_even"),
        F.count(F.when(par == 1, F.lit(1))).cast("long")
        .alias("n_users_odd"),
    )


@query(
    "table_vacuum_retention",
    _merged_cte("WHERE o_custkey % 16 IN (1, 2, 3)") + """
    SELECT c_custkey, c_name, acctbal, n_orders,
           CAST(2 AS BIGINT) AS horizon,
           CAST(2 AS BIGINT) AS n_retained
    FROM merged
    """,
)
def table_vacuum_retention(spark: SparkSession, sf_dir: str) -> SDF:
    """RETENTION VACUUM WITH THE GRACE CONTRACT, driver-checkable
    (round 14, r13 VERDICT item 3's query face): the ledger accrues
    v0 + three bucket-scoped MERGEs, ``vacuum(keep=2)`` drops v0/v1 —
    publishing the ``_vacuum/<seq>`` tombstone BEFORE any deletion —
    and the query SELF-CHECKS the contract on every call: the
    tombstone horizon must read 2, exactly the two newest versions
    must remain committed, resolving a swept version must raise
    ``VersionVacuumedError`` (the classified error, not a bare
    not-committed), and the LATEST version must read back complete.
    The returned frame is that read-back with the horizon and
    retained-count stamped as columns, so the oracle hash covers both
    the surviving content (manifest-aware vacuum must keep v2/v3's
    by-reference bucket dirs alive even though they physically live
    under dropped version directories) and the tombstone state.

    Scale: vacuum is driver-side marker JSON + unreferenced-dir
    deletes — no data read; the tombstone is one conditional put.  At
    100 TB this is the nightly retention job running against pinned
    readers: the horizon gives them a loud, classified failure and a
    documented re-resolve contract instead of a mid-scan
    FileNotFoundError mystery (tests/test_mergetable.py barrier-races
    exactly that)."""
    from ..sources.mergetable import (
        VersionVacuumedError,
        commit_bucketed,
        committed_versions,
        latest_version,
        merge_into_bucketed,
        read_bucketed,
        vacuum,
        vacuum_horizon,
    )

    root = _table_root(sf_dir, "custvac_v1")
    clauses = dict(
        matched_update={
            "acctbal": "t.acctbal + s.rev",
            "n_orders": "t.n_orders + s.n_o",
        },
        not_matched_insert={
            "c_name": "'NEW'",
            "acctbal": "s.rev",
            "n_orders": "s.n_o",
        },
    )
    m16 = F.col("o_custkey") % 16

    def _contract_intact() -> bool:
        # Rebuild unless the FULL post-vacuum contract holds, not just
        # latest>=3: a driver killed between merge-3 and vacuum leaves
        # latest==3 with no tombstone, and a latest-only sentinel would
        # then skip the rebuild and fail the horizon check below forever
        # (write-once store — nothing else ever heals it).
        try:
            return (
                (latest_version(root) or -1) >= 3
                and vacuum_horizon(root) == 2
                and committed_versions(root) == [2, 3]
            )
        except Exception:
            return False

    if not _contract_intact():
        import shutil

        shutil.rmtree(root, ignore_errors=True)
        commit_bucketed(
            _customer_v0(spark, sf_dir), root, 0, on="c_custkey",
            n_buckets=16, hashed=False, meta={"op": "create"},
        )
        for i in (1, 2, 3):
            merge_into_bucketed(
                spark, root,
                _order_changes(spark, sf_dir, where=m16 == i),
                meta={"op": f"merge-{i}"}, **clauses,
            )
        vacuum(root, keep=2)
    # the grace contract, re-checked on EVERY call (cheap: marker
    # JSON only) — a regression in any leg fails the driver run loudly
    if vacuum_horizon(root) != 2:
        raise RuntimeError(
            f"vacuum tombstone horizon is {vacuum_horizon(root)}, not 2"
        )
    if committed_versions(root) != [2, 3]:
        raise RuntimeError(
            f"retention kept {committed_versions(root)}, expected [2, 3]"
        )
    try:
        read_bucketed(spark, root, 0)
    except VersionVacuumedError:
        pass  # the classified error — the contract
    else:
        raise RuntimeError(
            "reading vacuumed v0 did not raise VersionVacuumedError"
        )
    return read_bucketed(spark, root, 3).select(
        "c_custkey", "c_name", "acctbal", "n_orders",
        F.lit(2).cast("long").alias("horizon"),
        F.lit(len(committed_versions(root))).cast("long")
        .alias("n_retained"),
    )


@query(
    "table_checkpoint_resolve",
    """
    WITH rev AS (
      SELECT o_custkey AS k,
             SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS rev
      FROM orders GROUP BY o_custkey
    )
    SELECT c.c_custkey,
           CAST(CAST(c.c_acctbal AS DECIMAL(38,6))
                + COALESCE(rev.rev, CAST(0 AS DECIMAL(38,6)))
                AS DOUBLE) AS acctbal,
           CAST(12 AS BIGINT) AS latest_ver,
           CAST(13 AS BIGINT) AS n_committed,
           CAST(12 AS BIGINT) AS ck_through,
           (SELECT COUNT(*) FROM customer) AS v0_rows
    FROM customer c LEFT JOIN rev ON rev.k = c.c_custkey
    """,
)
def table_checkpoint_resolve(spark: SparkSession, sf_dir: str) -> SDF:
    """COMMIT-LOG CHECKPOINTING, driver-checkable (round 15, r14
    VERDICT item 1's query face): a ledger accrues THIRTEEN commits —
    v0 is the customer base, each later v<n> the base plus the decimal
    revenue of the order slice ``o_orderkey % 12 < n`` — crossing the
    ``CHECKPOINT_EVERY`` cadence (a ``_checkpoints/<seq>`` summary
    lands automatically at v10) and finishing with an explicit
    ``write_checkpoint`` through v12.  The query SELF-CHECKS resolution
    equivalence on every call: the checkpointed resolver
    (``committed_versions``, one checkpoint read + O(tail) markers)
    must agree exactly with an inline raw full marker walk, timestamp
    time travel must resolve to v12 through the checkpoint's
    ``committed_at`` records, and a checkpoint-range version (v0) must
    read back with the full row count.  The returned frame is the v12
    read-back with the log facts stamped as columns, so the oracle
    hash covers both the data and the resolution state.

    Scale (the whole point): every version resolve and change-feed
    poll on a long-lived table reads ONE checkpoint object plus the
    marker tail (≤ ~2×CHECKPOINT_EVERY tiny JSON reads) instead of one
    marker per historical commit — on a table with 10k commits that is
    the difference between 3 store round-trips and 10k per resolve,
    exactly Delta's every-10-commits checkpoint trick applied to this
    log (tests/test_checkpoint.py pins the op counts with a counting
    CommitStore on a 300-commit table)."""
    import json as _json
    import os
    import time as _time

    from ..sources.mergetable import (
        _latest_checkpoint,
        commit_snapshot,
        committed_versions,
        latest_version,
        read_version,
        version_as_of,
        write_checkpoint,
    )

    root = _table_root(sf_dir, "custckpt_v1")
    base = (
        load_table(spark, sf_dir, "customer")
        .select(
            "c_custkey",
            F.col("c_acctbal").cast("decimal(38,6)").alias("acctbal"),
        )
    )
    orders = load_table(spark, sf_dir, "orders")

    def _state(n: int) -> SDF:
        rev = (
            orders.where(F.col("o_orderkey") % 12 < n)
            .groupBy(F.col("o_custkey").alias("k"))
            .agg(
                F.sum(F.col("o_totalprice").cast("decimal(38,6)"))
                .alias("rev")
            )
        )
        return (
            base.join(rev, base.c_custkey == rev.k, "left")
            .select(
                "c_custkey",
                (
                    F.col("acctbal")
                    + F.coalesce(
                        F.col("rev"), F.lit(0).cast("decimal(38,6)")
                    )
                ).cast("decimal(38,6)").alias("acctbal"),
            )
        )

    def _contract_intact() -> bool:
        try:
            ck = _latest_checkpoint(root)
            return (
                (latest_version(root) or -1) >= 12
                and committed_versions(root) == list(range(13))
                and ck is not None
                and ck["through_version"] == 12
            )
        except Exception:
            return False

    if not _contract_intact():
        import shutil

        shutil.rmtree(root, ignore_errors=True)
        for n in range(13):
            commit_snapshot(
                _state(n), root, n, meta={"op": f"fold-{n}"}
            )
        write_checkpoint(root)  # cover the tail past the v10 cadence

    # resolution equivalence, re-checked on EVERY call: checkpointed
    # resolver vs the raw full marker walk (the pre-checkpoint truth)
    raw: list = []
    cdir = os.path.join(root, "_commits")
    for name in os.listdir(cdir):
        if not name.isdigit():
            continue
        n = int(name)
        if not os.path.isdir(os.path.join(root, f"v{n}")):
            continue
        try:
            doc = _json.loads(open(os.path.join(cdir, name)).read())
        except (OSError, ValueError):
            continue
        if doc.get("fenced"):
            continue
        raw.append(n)
    ck_committed = committed_versions(root)
    if sorted(raw) != ck_committed:
        raise RuntimeError(
            f"checkpointed resolution {ck_committed} != raw marker "
            f"walk {sorted(raw)}"
        )
    if version_as_of(root, _time.time() + 3600) != 12:
        raise RuntimeError(
            "timestamp time travel through the checkpoint did not "
            "resolve to the latest version"
        )
    ck = _latest_checkpoint(root)
    v0_rows = read_version(spark, root, 0).count()  # checkpoint range
    return read_version(spark, root, 12).select(
        "c_custkey",
        F.col("acctbal").cast("double").alias("acctbal"),
        F.lit(12).cast("long").alias("latest_ver"),
        F.lit(len(ck_committed)).cast("long").alias("n_committed"),
        F.lit(int(ck["through_version"])).cast("long").alias("ck_through"),
        F.lit(v0_rows).cast("long").alias("v0_rows"),
    )


# ---------------------------------------------------------------------------
# metadata-only operations: RESTORE and SHALLOW CLONE
# ---------------------------------------------------------------------------


@query(
    "table_restore",
    _merged_cte("WHERE o_custkey % 16 IN (4, 5)") + """
    SELECT c_custkey, c_name, acctbal, n_orders FROM merged
    """,
)
def table_restore(spark: SparkSession, sf_dir: str) -> SDF:
    """RESTORE TABLE AS A NEW COMMIT (round 12 — Delta ``RESTORE ...
    VERSION AS OF`` on the commit log): v1 merges an unwanted change
    set (buckets {6,7}), v2 = ``restore_table(root, 0)`` reverts the
    table's CONTENT to v0 with ZERO data movement — the restore
    commit's manifest IS v0's manifest, by reference — and v3 then
    merges the intended change set (buckets {4,5}) ON TOP of the
    restored state.  The returned frame is the v3 read-back; the
    oracle is v0 + the intended changes ONLY, so a restore that
    failed to revert the unwanted merge (or reverted too much)
    hash-mismatches.  History is never rewritten: v1 (the mistake)
    stays time-travelable, which the unit test asserts along with the
    manifest identity v2 ≡ v0 (zero bytes copied).

    Scale: on a bucketed 100 TB table the restore writes ONE marker —
    the same metadata-only cost as Delta's RESTORE (add/remove file
    actions), priced by the manifest indirection the bucketed MERGE
    already maintains; vacuum's manifest-awareness keeps the
    referenced files alive while any kept version needs them."""
    from ..sources.mergetable import (
        commit_bucketed,
        latest_version,
        merge_into_bucketed,
        read_bucketed,
        restore_table,
    )

    root = _table_root(sf_dir, "custrest_v1")
    clauses = dict(
        matched_update={
            "acctbal": "t.acctbal + s.rev",
            "n_orders": "t.n_orders + s.n_o",
        },
        not_matched_insert={
            "c_name": "'NEW'",
            "acctbal": "s.rev",
            "n_orders": "s.n_o",
        },
    )
    m16 = F.col("o_custkey") % 16
    if (latest_version(root) or -1) < 3:
        import shutil

        shutil.rmtree(root, ignore_errors=True)
        commit_bucketed(
            _customer_v0(spark, sf_dir), root, 0, on="c_custkey",
            n_buckets=16, hashed=False, meta={"op": "create"},
        )
        merge_into_bucketed(  # the MISTAKE: v1
            spark, root,
            _order_changes(spark, sf_dir, where=m16.isin(6, 7)),
            meta={"op": "merge-unwanted"}, **clauses,
        )
        restore_table(spark, root, 0, meta={"reason": "revert"})  # v2
        merge_into_bucketed(  # the intended merge: v3
            spark, root,
            _order_changes(spark, sf_dir, where=m16.isin(4, 5)),
            meta={"op": "merge-intended"}, **clauses,
        )
    return read_bucketed(spark, root, 3)


@query(
    "table_clone_shallow",
    _merged_cte("WHERE o_custkey % 16 IN (6, 7, 8, 9)") + """
    SELECT c_custkey, c_name, acctbal, n_orders FROM merged
    """,
)
def table_clone_shallow(spark: SparkSession, sf_dir: str) -> SDF:
    """SHALLOW CLONE (round 12 — Delta ``CREATE TABLE ... SHALLOW
    CLONE``): the source ledger accrues v0 + a merge of buckets
    {6,7}; ``clone_shallow`` forks an INDEPENDENT table whose v0
    manifest references the source's physical files — zero bytes
    copied, one marker written — and a further merge of buckets
    {8,9} lands in the CLONE only: its touched buckets are rewritten
    under the clone root while untouched entries keep pointing into
    the source, and the source itself is never modified (asserted in
    the unit test down to physical paths).  The returned frame is the
    clone's read-back; the oracle is the combined change set, so a
    clone that missed source state or leaked its own merge back
    hash-mismatches.

    Scale: cloning a 100 TB table costs one marker write — the
    dev/test/experiment fork primitive.  The Delta caveat applies
    verbatim and is documented loudly: vacuum on the SOURCE does not
    know about clones, so source vacuum can delete files a clone
    still references; clone-side vacuum is safe (cross-root entries
    are never swept)."""
    import os

    from ..sources.mergetable import (
        clone_shallow,
        commit_bucketed,
        latest_version,
        merge_into_bucketed,
        read_bucketed,
    )

    root = _table_root(sf_dir, "custclone_v1")
    src, dst = os.path.join(root, "src"), os.path.join(root, "clone")
    clauses = dict(
        matched_update={
            "acctbal": "t.acctbal + s.rev",
            "n_orders": "t.n_orders + s.n_o",
        },
        not_matched_insert={
            "c_name": "'NEW'",
            "acctbal": "s.rev",
            "n_orders": "s.n_o",
        },
    )
    m16 = F.col("o_custkey") % 16
    if (latest_version(dst) or -1) < 1:
        import shutil

        shutil.rmtree(root, ignore_errors=True)
        commit_bucketed(
            _customer_v0(spark, sf_dir), src, 0, on="c_custkey",
            n_buckets=16, hashed=False, meta={"op": "create"},
        )
        merge_into_bucketed(
            spark, src,
            _order_changes(spark, sf_dir, where=m16.isin(6, 7)),
            meta={"op": "merge-src"}, **clauses,
        )
        clone_shallow(src, dst)
        merge_into_bucketed(  # lands in the CLONE only
            spark, dst,
            _order_changes(spark, sf_dir, where=m16.isin(8, 9)),
            meta={"op": "merge-clone"}, **clauses,
        )
    return read_bucketed(spark, dst, 1)


# ---------------------------------------------------------------------------
# the table as a streaming source
# ---------------------------------------------------------------------------


@query(
    "stream_table_source",
    """
    SELECT CAST(user_id % 7 AS BIGINT) AS grp,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(count(*) AS BIGINT) AS total_events
    FROM events WHERE user_id IS NOT NULL GROUP BY 1
    """,
)
def stream_table_source(spark: SparkSession, sf_dir: str) -> SDF:
    """THE TABLE AS A STREAMING SOURCE (round 12, r11 VERDICT item 2):
    a per-user event ledger accrues one bucketed commit plus two
    bucket-scoped MERGEs (events sliced 3 ways by event_id, so users
    span commits — updates AND inserts appear in the feed), then a
    Spark 4 Python streaming DataSource
    (streaming/table_source.py, format ``spark_graft_table_stream``)
    reads the table's CHANGE FEED with OFFSET = COMMIT VERSION:
    Spark checkpoints ``{"version": n}`` per micro-batch, partitions()
    plans one task per (commit step, manifest-differing bucket), and
    each task diffs its two immutable bucket dirs in Arrow — Delta's
    table-``readStream`` contract, replacing stream_feed_consume's
    driver-side foreachBatch polling with the engine-native incremental
    loop.  The drained feed's signed deltas (+insert/post-image,
    −delete/pre-image) fold onto the v0 base aggregate; the oracle is
    the direct rollup over ALL events, so a missed commit step, a
    replayed batch, or a wrong image sign hash-mismatches.

    Exactly-once: versions are immutable, so any checkpointed offset
    range replays deterministically forever — restart recovery (resume
    mid-table, no loss, no double-read) is proven in
    tests/test_table_stream.py with a stop → new-commit → restart
    cycle on one checkpoint.

    Scale: planning is driver-side marker JSON only; data movement is
    one task per changed bucket per commit — O(touched buckets), never
    O(table) — and the fold after it is an ordinary JVM hash
    aggregate."""
    import os
    import shutil

    from ..sources.mergetable import (
        commit_bucketed,
        latest_version,
        merge_into_bucketed,
        read_bucketed,
    )
    from ..sources.tables import write_done_marker
    from ..streaming.table_source import register_table_stream_source

    root = _table_root(sf_dir, "tblstream_v1", tables=("events",))
    up = os.path.join(root, "up")
    done = os.path.join(root, "_done")
    final_dir = os.path.join(root, "final")
    if not os.path.exists(done):
        shutil.rmtree(root, ignore_errors=True)
        os.makedirs(root, exist_ok=True)
        ev = load_table(spark, sf_dir, "events").where(
            F.col("user_id").isNotNull()
        )

        def ledger(i: int) -> SDF:
            return (
                ev.where(F.col("event_id") % 3 == i)
                .groupBy("user_id")
                .agg(F.count(F.lit(1)).cast("long").alias("n_events"))
            )

        commit_bucketed(
            ledger(0), up, 0, on="user_id", n_buckets=8, hashed=False,
            meta={"op": "create"},
        )
        for i in (1, 2):
            merge_into_bucketed(
                spark,
                up,
                ledger(i).withColumnRenamed("n_events", "bn"),
                matched_update={"n_events": "t.n_events + s.bn"},
                not_matched_insert={"n_events": "s.bn"},
                meta={"op": f"merge-slice-{i}"},
            )
        fmt = register_table_stream_source(spark)
        ckpt = os.path.join(root, "_ckpt")
        landing = os.path.join(root, "feed")
        q = (
            spark.readStream.format(fmt)
            .option("root", up)
            .load()
            .writeStream.format("parquet")
            .option("path", landing)
            .option("checkpointLocation", ckpt)
            .start()
        )
        q.processAllAvailable()
        q.stop()
        feed = read_parquet(spark, landing)
        sign = F.when(
            F.col("change_type").isin("insert", "update_postimage"),
            F.lit(1),
        ).otherwise(F.lit(-1))
        delta = feed.groupBy((F.col("user_id") % 7).alias("grp")).agg(
            F.sum(sign).cast("long").alias("du"),
            F.sum(sign * F.col("n_events")).cast("long").alias("de"),
        )
        base = read_bucketed(spark, up, 0).groupBy(
            (F.col("user_id") % 7).alias("grp")
        ).agg(
            F.count(F.lit(1)).cast("long").alias("bu"),
            F.sum("n_events").cast("long").alias("be"),
        )
        zero = F.lit(0).cast("long")
        final = base.join(delta, "grp", "full_outer").select(
            F.col("grp").cast("long").alias("grp"),
            (F.coalesce(F.col("bu"), zero) + F.coalesce(F.col("du"), zero))
            .cast("long")
            .alias("n_users"),
            (F.coalesce(F.col("be"), zero) + F.coalesce(F.col("de"), zero))
            .cast("long")
            .alias("total_events"),
        )
        final.coalesce(1).write.mode("overwrite").parquet(final_dir)
        write_done_marker(done)
    return read_parquet(spark, final_dir)


# ---------------------------------------------------------------------------
# bucket-scoped MERGE with a delete clause
# ---------------------------------------------------------------------------


@query(
    "table_bucketed_delete",
    _merged_cte("WHERE o_custkey % 16 < 3") + """
    SELECT c_custkey, c_name, acctbal, n_orders FROM merged
    WHERE NOT (in_dim AND in_chg AND v0_acctbal < 0)
    """,
)
def table_bucketed_delete(spark: SparkSession, sf_dir: str) -> SDF:
    """BUCKET-SCOPED MERGE WITH A DELETE CLAUSE (round 11): the
    bucketed copy-on-write MERGE carrying WHEN MATCHED AND
    ``t.acctbal < 0`` THEN DELETE — retention folded into the same
    k/B-bounded rewrite, because a matched row's bucket is touched BY
    CONSTRUCTION (the bucket function is applied to the merge key), so
    the delete always lands inside the buckets being rewritten anyway.
    The complementary clause, WHEN NOT MATCHED BY SOURCE DELETE, is
    deliberately REJECTED by ``merge_into_bucketed``: it targets rows
    in buckets the source never touches, which would silently forfeit
    the k/B write bound — that clause belongs to the table-granularity
    path, which prices the full rewrite honestly.

    The change set is confined to buckets {0,1,2} of 16 (the %16
    filter precedes the %7 key shift; 1000000 % 16 == 0 keeps shifted
    inserts inside), so v1 rewrites 3/16 of the table while purging
    matched negative-balance customers, and the other 13 buckets —
    including their negative-balance rows, correctly NOT deleted
    (no change arrived for them) — ride by reference.  The oracle
    states exactly that asymmetry, so a delete leaking into an
    untouched bucket, or a matched delete skipped, hash-mismatches."""
    from ..sources.mergetable import (
        commit_bucketed,
        latest_version,
        merge_into_bucketed,
        read_bucketed,
    )

    root = _table_root(sf_dir, "custbdel_v1")
    if (latest_version(root) or -1) < 1:
        commit_bucketed(
            _customer_v0(spark, sf_dir), root, 0, on="c_custkey",
            n_buckets=16, hashed=False, meta={"op": "create"},
        )
        merge_into_bucketed(
            spark,
            root,
            _order_changes(spark, sf_dir, where=F.col("o_custkey") % 16 < 3),
            matched_update={
                "acctbal": "t.acctbal + s.rev",
                "n_orders": "t.n_orders + s.n_o",
            },
            not_matched_insert={
                "c_name": "'NEW'",
                "acctbal": "s.rev",
                "n_orders": "s.n_o",
            },
            matched_delete="t.acctbal < 0",
            meta={"op": "merge+delete"},
        )
    return read_bucketed(spark, root, 1)


# ---------------------------------------------------------------------------
# multi-column data skipping
# ---------------------------------------------------------------------------


@query(
    "table_multicol_skipping",
    """
    SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE)
             AS sum_price
    FROM orders
    WHERE o_custkey BETWEEN 40 AND 119
      AND date_diff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE))
            BETWEEN 1096 AND 1460
    GROUP BY o_orderpriority
    """,
)
def table_multicol_skipping(spark: SparkSession, sf_dir: str) -> SDF:
    """MULTI-COLUMN FILE STATISTICS + Z-ORDER LAYOUT in the table
    format (round 12, r11 VERDICT item 4): orders is committed with
    ``zorder_by=(o_custkey, o_day)`` — the snapshot range-partitioned
    and sorted on the Morton bit-interleave of the pair, the
    sink_zorder layout moved INTO the commit protocol — and
    ``stats_cols`` recording per-file footer min/max for BOTH columns
    in the commit marker.  ``read_version(ranges={...})`` then prunes
    files on the CONJUNCTION of a customer-range and a date-range
    predicate from one driver-side JSON read, with both predicates also
    pushed to the surviving files' row groups.  Oracle = the same
    2-predicate filter on the original table, so a wrongly-pruned file
    (dropped matching rows) or a leaked row hash-mismatches;
    per-dimension inputFiles() proper-subset is asserted in
    tests/test_mergetable.py.

    Scale: a single-key sort keeps exact stats for the second column
    too, but every file spans that column's whole domain — only the
    Z-order interleave makes BOTH dimensions' per-file ranges tight, so
    a 2-d predicate at 100 TB touches O(matching cells) files instead
    of a full stripe per constrained key.  The stats read stays one
    marker get; no file listing, no footer fetches at read time."""
    from ..sources.mergetable import (
        commit_snapshot,
        latest_version,
        read_version,
    )

    root = _table_root(sf_dir, "ordzord_v1", tables=("orders",))
    if latest_version(root) is None:
        orders = load_table(spark, sf_dir, "orders").select(
            "o_custkey",
            "o_orderdate",
            "o_totalprice",
            "o_orderpriority",
        ).withColumn(
            "o_day", F.datediff(F.col("o_orderdate"), F.lit("1992-01-01"))
        )
        commit_snapshot(
            orders,
            root,
            0,
            meta={"op": "create"},
            n_files=16,
            stats_cols=["o_custkey", "o_day"],
            zorder_by=("o_custkey", "o_day"),
        )
    back = read_version(
        spark, root, ranges={"o_custkey": (40, 119), "o_day": (1096, 1460)}
    )
    return back.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("o_totalprice").cast("decimal(38,6)"))
        .cast("double")
        .alias("sum_price"),
    )


@query(
    "table_optimize_zorder",
    """
    SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE)
             AS sum_price
    FROM orders
    WHERE o_custkey BETWEEN 40 AND 119
      AND date_diff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE))
            BETWEEN 1096 AND 1460
    GROUP BY o_orderpriority
    """,
)
def table_optimize_zorder(spark: SparkSession, sf_dir: str) -> SDF:
    """OPTIMIZE ... ZORDER BY as an OCC maintenance commit (round 13):
    v0 commits orders in ARRIVAL order (no layout, no statistics — the
    shape every append-ingested fact table has), v1 =
    ``optimize_zorder(root, ("o_custkey", "o_day"))`` rewrites the
    resolved content by the Morton interleave of the pair and records
    multi-column per-file min/max, all through the OCC claim +
    if-absent publish (any rival commit forces a recompute — never a
    replaced marker).  The read is ``read_version(ranges=...)`` on the
    optimized version; the oracle is the same 2-predicate filter on
    the original table, so a row lost or duplicated by the rewrite
    hash-mismatches, and the before/after inputFiles() contrast (v0
    cannot ranges-read at all; v1 prunes per dimension) is asserted in
    tests/test_mergetable.py.

    Scale: the one-rewrite-shuffle cost is the Delta OPTIMIZE ZORDER
    trade exactly — paid once, amortized over every later 2-d
    predicate read touching O(matching cells) files; content is
    provably unchanged (the change feed's optimize step is empty), so
    the pass can run on a schedule against live OCC ingest."""
    from ..sources.mergetable import (
        commit_snapshot,
        latest_version,
        optimize_zorder,
        read_version,
    )

    root = _table_root(sf_dir, "ordzopt_v1", tables=("orders",))
    if latest_version(root) is None:
        orders = load_table(spark, sf_dir, "orders").select(
            "o_custkey",
            "o_orderdate",
            "o_totalprice",
            "o_orderpriority",
        ).withColumn(
            "o_day", F.datediff(F.col("o_orderdate"), F.lit("1992-01-01"))
        )
        # arrival order: no stats, no layout — deliberately unoptimized
        commit_snapshot(orders, root, 0, meta={"op": "create"}, n_files=16)
    if (latest_version(root) or -1) < 1:
        optimize_zorder(spark, root, ("o_custkey", "o_day"), n_files=16)
    back = read_version(
        spark, root, ranges={"o_custkey": (40, 119), "o_day": (1096, 1460)}
    )
    return back.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("o_totalprice").cast("decimal(38,6)"))
        .cast("double")
        .alias("sum_price"),
    )


@query(
    "table_bucketed_zorder",
    """
    WITH merged AS (
      SELECT o_custkey,
             date_diff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE))
               AS o_day,
             CAST(o_totalprice AS DOUBLE)
               + CASE WHEN o_custkey % 16 = 1 THEN 100.0 ELSE 0.0 END
               AS price,
             o_orderpriority
      FROM orders)
    SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CAST(price AS DECIMAL(38,6))) AS DOUBLE) AS sum_price
    FROM merged
    WHERE o_custkey BETWEEN 40 AND 119 AND o_day BETWEEN 1096 AND 1460
    GROUP BY o_orderpriority
    """,
)
def table_bucketed_zorder(spark: SparkSession, sf_dir: str) -> SDF:
    """MULTI-COLUMN STATISTICS + Z-ORDER on a BUCKETED table (round 13,
    r12 VERDICT item 2): orders is committed bucketed on ``o_custkey``
    (modulo, 8 buckets) with ``zorder_by=(o_custkey, o_day)`` — each
    bucket laid out by the Morton interleave of the pair — and
    ``stats_cols`` recording per-file min/max for BOTH columns across
    every bucket dir.  v1 is a bucket-scoped MERGE confined to bucket
    1 (keys ≡ 1 mod 16 ⇒ pmod 8 = 1), which REWRITES that bucket in
    the preserved Z-order layout and refreshes its multi-column stats
    while the other 7 buckets carry their recorded entries forward by
    reference.  The read is ``read_bucketed(ranges={custkey, day})``:
    conjunction file pruning from one driver-side marker read, across
    a manifest whose physical dirs span two version directories.
    Oracle = the bump applied by CASE on the original table, so a
    wrongly-pruned file or a stats-carry gap hash-mismatches;
    per-dimension inputFiles() proper-subset on the bucketed layout is
    asserted in tests/test_mergetable.py.

    Scale: this is the flagship-table version of 2-d skipping — the
    r12 VERDICT's gap was exactly that conjunction pruning existed
    only on plain snapshots, so BUCKETED tables (the layout every
    100 TB ingest path uses for k/B merge amplification) could not
    2-d skip.  Now a (customer, day) predicate over a bucketed ledger
    touches O(matching z-cells) files per bucket, stats ride the
    commit marker through merge/compact/restore/clone, and the read
    plans from one JSON get — no listing, no footer fetches."""
    from ..sources.mergetable import (
        commit_bucketed,
        latest_version,
        merge_into_bucketed,
        read_bucketed,
    )

    root = _table_root(sf_dir, "ordzbuck_v1", tables=("orders",))
    if (latest_version(root) or -1) < 0:
        orders = load_table(spark, sf_dir, "orders").select(
            "o_custkey",
            F.datediff(F.col("o_orderdate"), F.lit("1992-01-01")).alias(
                "o_day"
            ),
            F.col("o_totalprice").cast("double").alias("o_totalprice"),
            "o_orderpriority",
        )
        commit_bucketed(
            orders, root, 0, on="o_custkey", n_buckets=8, hashed=False,
            n_files=32, stats_cols=["o_custkey", "o_day"],
            zorder_by=("o_custkey", "o_day"), meta={"op": "create"},
        )
    if (latest_version(root) or -1) < 1:
        src = (
            load_table(spark, sf_dir, "orders")
            .where(F.col("o_custkey") % 16 == 1)
            .select("o_custkey")
            .distinct()
            .withColumn("bump", F.lit(100.0))
        )
        merge_into_bucketed(
            spark, root, src,
            matched_update={"o_totalprice": "t.o_totalprice + s.bump"},
            not_matched_insert={"o_totalprice": "s.bump"},
            meta={"op": "bump"},
        )
    back = read_bucketed(
        spark, root, ranges={"o_custkey": (40, 119), "o_day": (1096, 1460)}
    )
    return back.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("o_totalprice").cast("decimal(38,6)"))
        .cast("double")
        .alias("sum_price"),
    )


# ---------------------------------------------------------------------------
# timestamp time travel
# ---------------------------------------------------------------------------


@query(
    "table_time_travel_ts",
    """
    SELECT c_custkey, c_name, CAST(c_acctbal AS DOUBLE) AS acctbal
    FROM customer WHERE c_acctbal > 0
    """,
)
def table_time_travel_ts(spark: SparkSession, sf_dir: str) -> SDF:
    """TIMESTAMP TIME TRAVEL (round 12, r11 VERDICT item 3): read the
    merge table AS OF the wall-clock instant of the v0 commit — between
    two committed versions by TIMESTAMP, not version number — via
    ``read_version(root, as_of=ts)``, which resolves the newest commit
    marker whose ``committed_at`` is <= ts (Delta's ``timestampAsOf``
    on the commit log).  The probe timestamp is read from v0's own
    marker, and the query asserts the inter-commit ordering it relies
    on (v1's stamp strictly later), so the resolution is deterministic
    for any committed store.  Oracle = the version-pinned v0 definition
    (the pre-merge customer dim), positive balances only — so resolving
    to the wrong side of the boundary hash-mismatches.

    Scale: resolution is one driver-side marker listing + JSON reads —
    no data file is touched until the resolved snapshot's ordinary
    pruned parquet scan.  Clock-skew caveat (documented in
    ``version_as_of``, same as Delta): ``committed_at`` comes from each
    committing writer's clock; version numbers remain the authoritative
    history when multi-writer skew exceeds the inter-commit gap."""
    from ..sources.mergetable import commit_meta, read_version
    from .tier8 import _ensure_merge_table

    root = _ensure_merge_table(spark, sf_dir)
    ts0 = commit_meta(root, 0)["committed_at"]
    ts1 = commit_meta(root, 1)["committed_at"]
    assert ts1 > ts0, (ts0, ts1)  # markers are stamped sequentially
    v0 = read_version(spark, root, as_of=ts0)
    return v0.where(F.col("acctbal") > 0).select(
        "c_custkey", "c_name", "acctbal"
    )


# ---------------------------------------------------------------------------
# OCC concurrent MERGE
# ---------------------------------------------------------------------------


@query(
    "table_merge_concurrent",
    _merged_cte("WHERE o_custkey % 16 < 4") + """
    SELECT c_custkey, c_name, acctbal, n_orders FROM merged
    """,
)
def table_merge_concurrent(spark: SparkSession, sf_dir: str) -> SDF:
    """CONCURRENT MERGE WITH OCC CONFLICT DETECTION (round 12, r11
    VERDICT item 1): two writers MERGE disjoint change sets — buckets
    {0,1} and {2,3} of 16 — into the same bucketed table from genuinely
    concurrent threads via ``merge_into_bucketed``.  Each writer
    records its read-base and touched-bucket write-set in its
    commit marker; whichever writer loses the version claim detects the
    rival's write-set is DISJOINT and REBASES — adopts the rival's
    manifest, keeps its own already-written buckets, zero recompute —
    so BOTH land as consecutive versions and the final latest version
    carries both change sets.  The oracle is the single combined merge
    (disjoint key sets make sequential ≡ combined), so a lost update —
    the exact anomaly ``commit_snapshot_exclusive`` alone could not
    prevent — hash-mismatches.

    Scale: N concurrent disjoint merges (the partitioned-ingest common
    case) serialize with N−1 manifest-union rebases and exactly N
    bucket rewrites total — conflict detection costs one marker read
    per rival, never a data read.  True overlap pays a recompute from
    the new base; exhaustion raises ``MergeConflictError`` with the
    table uncorrupted (no marker published).  Overlap/recompute/
    exhaustion and spec-drift paths are unit-tested in
    tests/test_mergetable.py."""
    import shutil
    from concurrent.futures import ThreadPoolExecutor

    from ..sources.mergetable import (
        commit_bucketed,
        latest_version,
        merge_into_bucketed,
        read_bucketed,
    )

    root = _table_root(sf_dir, "custoccm_v1")
    cur = latest_version(root)
    if cur is not None and cur < 2:
        # a crashed earlier build left a partial state (one writer
        # committed, one not) — which writer landed is not recorded
        # positionally, so rebuild from scratch rather than guess
        shutil.rmtree(root, ignore_errors=True)
        cur = None
    if cur is None:
        commit_bucketed(
            _customer_v0(spark, sf_dir), root, 0, on="c_custkey",
            n_buckets=16, hashed=False, meta={"op": "create"},
        )
        clauses = dict(
            matched_update={
                "acctbal": "t.acctbal + s.rev",
                "n_orders": "t.n_orders + s.n_o",
            },
            not_matched_insert={
                "c_name": "'NEW'",
                "acctbal": "s.rev",
                "n_orders": "s.n_o",
            },
        )

        def writer(tag: str, pred) -> int:
            return merge_into_bucketed(
                spark,
                root,
                _order_changes(spark, sf_dir, where=pred),
                meta={"writer": tag},
                **clauses,
            )

        m16 = F.col("o_custkey") % 16
        with ThreadPoolExecutor(max_workers=2) as ex:
            fa = ex.submit(writer, "low", m16 < 2)
            fb = ex.submit(writer, "high", (m16 >= 2) & (m16 < 4))
            got = sorted((fa.result(), fb.result()))
        assert got == [1, 2], got  # both committed, consecutive
    return read_bucketed(spark, root)


# ---------------------------------------------------------------------------
# bucket compaction
# ---------------------------------------------------------------------------


@query(
    "table_compact_buckets",
    _merged_cte("WHERE o_custkey % 16 < 2") + """
    SELECT c_custkey, c_name, acctbal, n_orders FROM merged
    """,
)
def table_compact_buckets(spark: SparkSession, sf_dir: str) -> SDF:
    """MANIFEST-AWARE BUCKET COMPACTION (round 11 — the OPTIMIZE job):
    v0 commits the customer dim deliberately FRAGMENTED (48 range
    partitions over 16 key buckets ⇒ ~3 files per bucket dir, with
    per-file key statistics), v1 bucket-scope-merges a change set
    confined to buckets {0,1} (which rewrites those two buckets as one
    compact file each), and v2 = ``compact_buckets(max_files=1)``
    rewrites ONLY the still-fragmented buckets — the two
    freshly-merged buckets ride into v2 BY REFERENCE, and file
    statistics are refreshed for rewritten buckets and carried forward
    for referenced ones, so range skipping survives the whole
    fragment → merge → compact chain.  The returned frame is the
    read-back of the compacted version; the oracle is the merged
    content, so any row lost or duplicated by compaction
    hash-mismatches.

    Scale: compaction cost is proportional to the FRAGMENTED fraction
    of the table, not the table — the maintenance pass that bounds
    read-side file counts after many small merges without the
    full-table rewrite a naive OPTIMIZE performs.  At 100 TB with
    daily 3-bucket merges, weekly compaction touches only what the
    week's merges fragmented."""
    from ..sources.mergetable import (
        commit_bucketed,
        compact_buckets,
        latest_version,
        merge_into_bucketed,
        read_bucketed,
    )

    root = _table_root(sf_dir, "custfrag_v1")
    if (latest_version(root) or -1) < 1:
        commit_bucketed(
            _customer_v0(spark, sf_dir), root, 0, on="c_custkey",
            n_buckets=16, hashed=False, stats_key="c_custkey", n_files=48,
            meta={"op": "create"},
        )
        # %16 filter BEFORE the %7 shift: 1000000 % 16 == 0, so shifted
        # insert keys stay inside buckets {0,1} (same trick as the
        # tier-8 bucketed table)
        merge_into_bucketed(
            spark,
            root,
            _order_changes(spark, sf_dir, where=F.col("o_custkey") % 16 < 2),
            matched_update={
                "acctbal": "t.acctbal + s.rev",
                "n_orders": "t.n_orders + s.n_o",
            },
            not_matched_insert={
                "c_name": "'NEW'",
                "acctbal": "s.rev",
                "n_orders": "s.n_o",
            },
            meta={"op": "merge"},
        )
    if (latest_version(root) or -1) < 2:
        # returns the CURRENT version untouched if nothing is fragmented
        # (possible at tiny scale factors) — reading the latest version
        # is content-identical either way
        compact_buckets(spark, root, max_files=1, meta={"op": "compact"})
    return read_bucketed(spark, root)
