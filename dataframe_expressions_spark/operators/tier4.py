"""Tier 4 — beyond-survey relational extensions: statistical aggregates,
exact quantiles, pivot, explode/unnest, as-of join, range-frame windows,
csv/json source round-trips, partitioned parquet sink.

Same oracle discipline as tier2 (DECIMAL folding, bigint counts, rounded
doubles with unique tie-breaks).  Variance/stddev/correlation are computed
from exact DECIMAL(38,6) moment sums — order-independent on both engines,
unlike the built-in streaming variance accumulators whose double error
depends on partition count.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame as SDF
from pyspark.sql import SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..sources.tables import load_table, orders_nested, read_parquet
from ..functions.dedup import spread
from .registry import query
from .tier2 import _DEC, _dsum


# ---------------------------------------------------------------------------
# statistical aggregates from exact moment sums
# ---------------------------------------------------------------------------


@query(
    "agg_stats",
    """
    WITH m AS (
      SELECT l_returnflag,
             count(*) AS n,
             CAST(sum(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS sx,
             CAST(sum(CAST(l_quantity * l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS sxx,
             CAST(sum(CAST(l_extendedprice AS DECIMAL(38,6))) AS DOUBLE) AS sy,
             CAST(sum(CAST(l_extendedprice * l_extendedprice AS DECIMAL(38,6))) AS DOUBLE) AS syy,
             CAST(sum(CAST(l_quantity * l_extendedprice AS DECIMAL(38,6))) AS DOUBLE) AS sxy
      FROM lineitem GROUP BY l_returnflag)
    SELECT l_returnflag,
           n,
           round((sxx - sx*sx/n) / (n - 1), 4) AS var_qty,
           round(sqrt((sxx - sx*sx/n) / (n - 1)), 4) AS stddev_qty,
           round((sxy - sx*sy/n)
                 / (sqrt(sxx - sx*sx/n) * sqrt(syy - sy*sy/n)), 4) AS corr_qty_price
    FROM m
    """,
)
def agg_stats(spark: SparkSession, sf_dir: str) -> SDF:
    """Variance / stddev / correlation per group via exact decimal moment
    sums (single shuffle, map-side partial agg).  Scale: moments compose
    associatively, so this is the textbook 100 TB-safe formulation — the
    built-in var_samp/corr accumulate in doubles whose rounding depends on
    partition order."""
    lin = spread(load_table(spark, sf_dir, "lineitem"))
    q, p = F.col("l_quantity"), F.col("l_extendedprice")
    m = lin.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        _dsum(q).alias("sx"),
        _dsum(q * q).alias("sxx"),
        _dsum(p).alias("sy"),
        _dsum(p * p).alias("syy"),
        _dsum(q * p).alias("sxy"),
    )
    n, sx, sxx = F.col("n"), F.col("sx"), F.col("sxx")
    sy, syy, sxy = F.col("sy"), F.col("syy"), F.col("sxy")
    var = (sxx - sx * sx / n) / (n - 1)
    corr = (sxy - sx * sy / n) / (
        F.sqrt(sxx - sx * sx / n) * F.sqrt(syy - sy * sy / n)
    )
    return m.select(
        "l_returnflag",
        "n",
        F.round(var, 4).alias("var_qty"),
        F.round(F.sqrt(var), 4).alias("stddev_qty"),
        F.round(corr, 4).alias("corr_qty_price"),
    )


@query(
    "agg_quantiles",
    """
    SELECT l_returnflag,
           round(quantile_cont(l_quantity, 0.25), 4) AS p25,
           round(quantile_cont(l_quantity, 0.5), 4) AS p50,
           round(quantile_cont(l_quantity, 0.75), 4) AS p75
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_quantiles(spark: SparkSession, sf_dir: str) -> SDF:
    """Exact interpolated percentiles (SQL percentile_cont semantics on
    both engines).  Scale: exact percentile gathers per-group values —
    fine for bounded group counts; unbounded cardinality switches to
    approx_percentile (see agg_approx_distinct for the sketch pattern)."""
    lin = spread(load_table(spark, sf_dir, "lineitem"))
    out = lin.groupBy("l_returnflag").agg(
        F.percentile("l_quantity", F.lit(0.25)).alias("q25"),
        F.percentile("l_quantity", F.lit(0.5)).alias("q50"),
        F.percentile("l_quantity", F.lit(0.75)).alias("q75"),
    )
    return out.select(
        "l_returnflag",
        F.round("q25", 4).alias("p25"),
        F.round("q50", 4).alias("p50"),
        F.round("q75", 4).alias("p75"),
    )


# ---------------------------------------------------------------------------
# pivot / unpivot
# ---------------------------------------------------------------------------

_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PRIO_ALIAS = ["p1_urgent", "p2_high", "p3_medium", "p4_not_specified", "p5_low"]


@query(
    "pivot_wide",
    """
    SELECT o_orderstatus,
           count(*) FILTER (o_orderpriority = '1-URGENT') AS p1_urgent,
           count(*) FILTER (o_orderpriority = '2-HIGH') AS p2_high,
           count(*) FILTER (o_orderpriority = '3-MEDIUM') AS p3_medium,
           count(*) FILTER (o_orderpriority = '4-NOT SPECIFIED') AS p4_not_specified,
           count(*) FILTER (o_orderpriority = '5-LOW') AS p5_low
    FROM orders GROUP BY o_orderstatus
    """,
)
def pivot_wide(spark: SparkSession, sf_dir: str) -> SDF:
    """Pivot with an explicit value list — Spark then skips the extra
    distinct-values job and the output schema is static (a cluster
    requirement: schema can't depend on data)."""
    orders = load_table(spark, sf_dir, "orders")
    piv = (
        orders.groupBy("o_orderstatus")
        .pivot("o_orderpriority", _PRIORITIES)
        .agg(F.count(F.lit(1)))
    )
    named = piv.select(
        "o_orderstatus",
        *[F.coalesce(F.col(f"`{v}`"), F.lit(0)).alias(a)
          for v, a in zip(_PRIORITIES, _PRIO_ALIAS)],
    )
    return named


@query(
    "unpivot_long",
    """
    WITH wide AS (
      SELECT o_orderstatus,
             CAST(count(*) FILTER (o_orderpriority = '1-URGENT') AS BIGINT) AS p1_urgent,
             CAST(count(*) FILTER (o_orderpriority = '5-LOW') AS BIGINT) AS p5_low
      FROM orders GROUP BY o_orderstatus)
    SELECT o_orderstatus, 'p1_urgent' AS priority, p1_urgent AS n FROM wide
    UNION ALL
    SELECT o_orderstatus, 'p5_low' AS priority, p5_low AS n FROM wide
    """,
)
def unpivot_long(spark: SparkSession, sf_dir: str) -> SDF:
    """unpivot/melt back to long form — wide→long is a narrow (no-shuffle)
    transformation."""
    orders = load_table(spark, sf_dir, "orders")
    wide = orders.groupBy("o_orderstatus").agg(
        F.count(F.when(F.col("o_orderpriority") == "1-URGENT", 1)).alias("p1_urgent"),
        F.count(F.when(F.col("o_orderpriority") == "5-LOW", 1)).alias("p5_low"),
    )
    return wide.unpivot(
        ["o_orderstatus"], ["p1_urgent", "p5_low"], "priority", "n"
    )


# ---------------------------------------------------------------------------
# explode / unnest (inverse of the nested view)
# ---------------------------------------------------------------------------


@query(
    "explode_unnest",
    """
    SELECT o.o_orderkey, o.o_totalprice, l.l_linenumber, l.l_quantity
    FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    """,
)
def explode_unnest(spark: SparkSession, sf_dir: str) -> SDF:
    """Explode the nested array<struct> view back to flat rows — the
    round-trip (collect_list ∘ explode = id) that validates the nested
    data model.  Scale: explode is narrow; the cost is the nested view's
    one shuffle."""
    nested = orders_nested(spark, sf_dir)
    item = F.explode("items").alias("item")
    return nested.select("o_orderkey", "o_totalprice", item).select(
        "o_orderkey",
        "o_totalprice",
        F.col("item.l_linenumber").alias("l_linenumber"),
        F.col("item.l_quantity").alias("l_quantity"),
    )


# ---------------------------------------------------------------------------
# as-of join (time-series: latest click at or before each purchase)
# ---------------------------------------------------------------------------


@query(
    "join_asof",
    """
    WITH purchases AS (SELECT event_id, user_id, ts, value FROM events
                       WHERE event_type = 'purchase'),
         clicks AS (SELECT event_id AS click_id, user_id, ts AS click_ts
                    FROM events WHERE event_type = 'click')
    SELECT p.event_id, p.user_id, p.ts, round(CAST(p.value AS DOUBLE), 4) AS value,
           c.click_id, c.click_ts
    FROM purchases p
    ASOF LEFT JOIN clicks c
      ON p.user_id = c.user_id AND p.ts >= c.click_ts
    """,
)
def join_asof(spark: SparkSession, sf_dir: str) -> SDF:
    """As-of join via the union+window rewrite: tag both streams, sort
    within user by (ts, tag), carry the last click forward with ONE
    last_value(ignorenulls) over a STRUCT of the click columns — one
    shuffle on user_id, no range-join row explosion.  This is the
    scalable formulation: a naive range join is O(clicks × purchases)
    per user; this is O(n log n) per user and the state is one row.
    (ts values are unique per user in the testdata, so tag ordering only
    breaks exact-equality ties, where the click wins — matching ASOF's
    >= semantics.)

    The struct carry (round 9, matching the DSL .asof_join lowering) is
    what keeps the matched click row ATOMIC: per-column last() would
    silently leak a stale value from an OLDER click wherever a carried
    column is legitimately NULL — safe on this data only because
    click_id/click_ts are never NULL, but not a pattern to copy."""
    ev = load_table(spark, sf_dir, "events")
    clicks = ev.where(F.col("event_type") == "click").select(
        "user_id",
        "ts",
        F.lit(0).alias("tag"),
        F.struct(
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
        ).alias("click"),
        F.lit(None).cast("long").alias("event_id"),
        F.lit(None).cast("double").alias("value"),
    )
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "user_id",
        "ts",
        F.lit(1).alias("tag"),
        F.lit(None).cast("struct<click_id:bigint,click_ts:timestamp_ntz>")
        .alias("click"),
        "event_id",
        "value",
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "tag")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    merged = clicks.unionByName(purchases).select(
        "event_id",
        "user_id",
        "ts",
        "value",
        "tag",
        F.last("click", ignorenulls=True).over(w).alias("click"),
    )
    return merged.where(F.col("tag") == 1).select(
        "event_id",
        "user_id",
        "ts",
        F.round(F.col("value"), 4).alias("value"),
        F.col("click.click_id").alias("click_id"),
        F.col("click.click_ts").alias("click_ts"),
    )


# ---------------------------------------------------------------------------
# range-frame window (sliding 30-day revenue per customer)
# ---------------------------------------------------------------------------


@query(
    "window_range_frame",
    """
    SELECT o_custkey, o_orderkey,
           CAST(sum(CAST(o_totalprice AS DECIMAL(38,6))) OVER (
             PARTITION BY o_custkey
             ORDER BY epoch(o_orderdate)
             RANGE BETWEEN 2592000 PRECEDING AND CURRENT ROW
           ) AS DOUBLE) AS rev_30d
    FROM orders
    """,
)
def window_range_frame(spark: SparkSession, sf_dir: str) -> SDF:
    """RANGE frame over event-time (trailing 30 days of revenue).  Spark's
    rangeBetween needs a numeric ordering column → order by epoch seconds;
    the oracle uses the identical integer ordering.  Scale: one shuffle on
    the partition key; frame evaluation is a per-partition scan."""
    orders = load_table(spark, sf_dir, "orders")
    w = (
        W.partitionBy("o_custkey")
        .orderBy(F.unix_timestamp("o_orderdate"))
        .rangeBetween(-30 * 86400, 0)
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.sum(F.col("o_totalprice").cast(_DEC)).over(w).cast("double").alias("rev_30d"),
    )


# ---------------------------------------------------------------------------
# csv / json source round-trips + partitioned parquet sink
# ---------------------------------------------------------------------------


def _roundtrip_dir(sf_dir: str, fmt: str) -> str:
    from ..sources.tables import store_root

    key = sf_dir.rstrip("/").rsplit("/", 1)[-1]
    return f"{store_root()}/spark_graft_{fmt}_{key}"


@query(
    "scan_csv",
    "SELECT n_nationkey, n_name, n_regionkey FROM nation",
)
def scan_csv(spark: SparkSession, sf_dir: str) -> SDF:
    """CSV sink+source round-trip (writer → header CSV → schema'd reader).
    The explicit schema keeps the reader single-pass (no inference job) —
    mandatory at scale."""
    out = _roundtrip_dir(sf_dir, "csv")
    nation = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    nation.write.mode("overwrite").option("header", True).csv(out)
    return spark.read.schema("n_nationkey long, n_name string, n_regionkey long").option(
        "header", True
    ).csv(out)


@query(
    "scan_json",
    "SELECT s_suppkey, s_name, s_nationkey, round(CAST(s_acctbal AS DOUBLE), 4) AS s_acctbal "
    "FROM supplier",
)
def scan_json(spark: SparkSession, sf_dir: str) -> SDF:
    """JSON-lines sink+source round-trip with explicit schema (JSON
    inference reads the data twice — never at scale)."""
    out = _roundtrip_dir(sf_dir, "json")
    sup = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name", "s_nationkey", F.round("s_acctbal", 4).alias("s_acctbal")
    )
    sup.write.mode("overwrite").json(out)
    return spark.read.schema(
        "s_suppkey long, s_name string, s_nationkey long, s_acctbal double"
    ).json(out)


@query(
    "sink_partitioned",
    """
    SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
           count(*) AS n_orders,
           CAST(sum(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS revenue
    FROM orders GROUP BY 1
    """,
)
def sink_partitioned(spark: SparkSession, sf_dir: str) -> SDF:
    """Hive-style partitioned parquet sink (partitionBy year) read back
    with partition pruning available to every downstream query.  Scale:
    year-partitioned layout is the standard time-series lake pattern;
    the partition column comes back from directory names."""
    out = _roundtrip_dir(sf_dir, "part")
    shutil.rmtree(out, ignore_errors=True)
    orders = load_table(spark, sf_dir, "orders")
    agg = orders.groupBy(
        F.year("o_orderdate").cast("long").alias("o_year")
    ).agg(
        F.count(F.lit(1)).alias("n_orders"),
        _dsum("o_totalprice").alias("revenue"),
    )
    agg.write.mode("overwrite").partitionBy("o_year").parquet(out)
    back = read_parquet(spark, out)
    return back.select(F.col("o_year").cast("long"), "n_orders", "revenue")


# ---------------------------------------------------------------------------
# bucketed co-located join (shuffle-free at any scale)
# ---------------------------------------------------------------------------


@query(
    "join_bucketed",
    """
    SELECT o.o_orderpriority,
           count(*) AS n,
           CAST(sum(CAST(l.l_extendedprice AS DECIMAL(38,6))) AS DOUBLE) AS revenue
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderpriority
    """,
)
def join_bucketed(spark: SparkSession, sf_dir: str) -> SDF:
    """Write both sides bucketed+sorted by the join key, then join the
    bucketed tables: the plan has NO Exchange before the join — each
    bucket pair joins in place.  This is THE 100 TB pattern for repeated
    fact-fact joins (pay one bucketed write, every later join is
    shuffle-free); the one-time write cost is why it's a separate query
    from join_inner_hash."""
    from ..sources.tables import store_path

    loc = store_path(sf_dir, "bucketed", ("orders", "lineitem"))
    # catalog names carry the store's sf + fingerprint tail: regenerated
    # testdata gets fresh bucketed tables instead of a stale layout
    key = loc.rsplit("spark_graft_bucketed_", 1)[-1].replace(".", "_")
    for name, src, col in (
        ("lineitem_b", "lineitem", "l_orderkey"),
        ("orders_b", "orders", "o_orderkey"),
    ):
        tbl = f"{name}_{key}"
        if spark.catalog.tableExists(tbl):
            continue
        df = load_table(spark, sf_dir, src)
        path = f"{loc}/{name}"
        if os.path.exists(f"{path}/_SUCCESS"):
            # bucketed files survive across sessions but the in-memory
            # catalog doesn't — re-register the existing layout (bucket
            # spec lives in the catalog, so it must be restated)
            ddl = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in df.schema)
            spark.sql(
                f"CREATE TABLE {tbl} ({ddl}) USING parquet "
                f"CLUSTERED BY ({col}) SORTED BY ({col}) INTO 8 BUCKETS "
                f"LOCATION '{path}'"
            )
        else:
            (
                df.write.bucketBy(8, col)
                .sortBy(col)
                .option("path", path)
                .mode("overwrite")
                .saveAsTable(tbl)
            )
    lin = spark.table(f"lineitem_b_{key}")
    orders = spark.table(f"orders_b_{key}")
    # merge hint: at test SF the dim side is broadcast-sized, which would
    # bypass the bucket-wise plan this query exists to demonstrate — at
    # 100 TB both sides are fact-sized and SMJ is what AQE picks anyway
    joined = lin.hint("merge").join(orders, lin.l_orderkey == orders.o_orderkey)
    return joined.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"),
        _dsum("l_extendedprice").alias("revenue"),
    )


@query(
    "scan_orc",
    "SELECT p_partkey, p_name, p_brand, round(CAST(p_retailprice AS DOUBLE), 4) AS p_retailprice "
    "FROM part",
)
def scan_orc(spark: SparkSession, sf_dir: str) -> SDF:
    """ORC sink+source round-trip — same columnar pushdown/pruning story
    as parquet, kept for lake interop."""
    out = _roundtrip_dir(sf_dir, "orc")
    part = load_table(spark, sf_dir, "part").select(
        "p_partkey", "p_name", "p_brand", F.round("p_retailprice", 4).alias("p_retailprice")
    )
    part.write.mode("overwrite").orc(out)
    return spark.read.orc(out)


@query(
    "agg_skew_twophase",
    """
    SELECT user_id,
           count(*) AS n_events,
           count(DISTINCT event_type) AS n_types
    FROM events GROUP BY user_id
    """,
)
def agg_skew_twophase(spark: SparkSession, sf_dir: str) -> SDF:
    """Skew-safe distinct count: expand the distinct key into the grouping
    key (groupBy(user, type) → groupBy(user)) so no reducer ever holds one
    hot user's full value set — the two-phase rewrite Spark itself applies
    to COUNT(DISTINCT), spelled out as the pattern for aggs it can't
    rewrite (collect_set, exact percentile of a hot key).  Phase 1 keys
    are (user, type): skew on user alone is sharded across reducers."""
    ev = load_table(spark, sf_dir, "events")
    phase1 = ev.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("n")
    )
    return phase1.groupBy("user_id").agg(
        F.sum("n").cast("long").alias("n_events"),
        F.count(F.lit(1)).cast("long").alias("n_types"),
    )


@query(
    "window_ntile_pct",
    """
    SELECT o_orderkey, o_custkey,
           ntile(4) OVER w AS quartile,
           round(percent_rank() OVER w, 6) AS pct_rank,
           round(cume_dist() OVER w, 6) AS cume
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice, o_orderkey)
    """,
)
def window_ntile_pct(spark: SparkSession, sf_dir: str) -> SDF:
    """Distribution-rank window functions (quartile bucketing, percentile
    position).  Same single-shuffle profile as window_rank; o_orderkey
    tie-break keeps every rank deterministic."""
    orders = load_table(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy("o_totalprice", "o_orderkey")
    return orders.select(
        "o_orderkey",
        "o_custkey",
        F.ntile(4).over(w).alias("quartile"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
    )


@query(
    "scalar_subquery_rewrite",
    """
    SELECT o.o_orderkey, round(CAST(o.o_totalprice AS DOUBLE), 4) AS o_totalprice
    FROM orders o
    WHERE o.o_totalprice > 1.5 * (
      SELECT CAST(avg(CAST(o2.o_totalprice AS DECIMAL(38,6))) AS DOUBLE)
      FROM orders o2 WHERE o2.o_custkey = o.o_custkey)
    """,
)
def scalar_subquery_rewrite(spark: SparkSession, sf_dir: str) -> SDF:
    """Correlated scalar subquery (orders 1.5x above the customer's own
    average), rewritten as one window aggregation — the scalable form:
    the naive correlated shape is a per-row subquery; as a window it is a
    single shuffle on the correlation key with no second scan."""
    orders = load_table(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey")
    avg_price = (
        F.sum(F.col("o_totalprice").cast(_DEC)).over(w).cast("double")
        / F.count(F.lit(1)).over(w)
    )
    return (
        orders.withColumn("cust_avg", avg_price)
        .where(F.col("o_totalprice") > 1.5 * F.col("cust_avg"))
        .select("o_orderkey", F.round("o_totalprice", 4).alias("o_totalprice"))
    )


@query(
    "cdc_upsert_compact",
    """
    WITH ranked AS (
      SELECT user_id, event_id, ts, event_type,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rk
      FROM events)
    SELECT user_id, event_id AS last_event_id, ts AS last_ts,
           event_type AS last_type
    FROM ranked WHERE rk = 1
    """,
)
def cdc_upsert_compact(spark: SparkSession, sf_dir: str) -> SDF:
    """Latest-wins compaction — the merge/upsert kernel of a CDC pipeline:
    collapse a change log to the newest row per key.  Scale: one shuffle
    on the key; on a lakehouse table this is the MERGE INTO / compaction
    job run over new partitions only."""
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    return (
        ev.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") == 1)
        .select(
            "user_id",
            F.col("event_id").alias("last_event_id"),
            F.col("ts").alias("last_ts"),
            F.col("event_type").alias("last_type"),
        )
    )


@query(
    "sql_interface",
    """
    SELECT n.n_name,
           count(*) AS n_orders,
           CAST(sum(CAST(o.o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS revenue
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY n.n_name
    """,
)
def sql_interface(spark: SparkSession, sf_dir: str) -> SDF:
    """The spark.sql entry point: every table registered as a temp view,
    query written in ANSI SQL verbatim — same Catalyst plan as the
    DataFrame form, proving the SQL surface is first-class."""
    for t in ("orders", "customer", "nation"):
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(
        """
        SELECT n.n_name,
               count(*) AS n_orders,
               CAST(sum(CAST(o.o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS revenue
        FROM orders o
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        GROUP BY n.n_name
        """
    )


# ---------------------------------------------------------------------------
# TPC-H Q6 / Q10 — the classic scan-heavy filter-agg and the 4-table
# join + group + top-k reporting shape
# ---------------------------------------------------------------------------


@query(
    "tpch_q6_forecast_revenue",
    """
    SELECT CAST(sum(CAST(l_extendedprice * l_discount AS DECIMAL(38,6)))
           AS DOUBLE) AS revenue,
           count(*) AS n
    FROM lineitem
    WHERE l_shipdate >= DATE '1994-01-01' AND l_shipdate < DATE '1995-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24
    """,
)
def tpch_q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> SDF:
    """TPC-H Q6: pure scan + filter + global agg.  Every predicate reaches
    the parquet scan (PushedFilters on date/discount/quantity), the agg is
    a two-phase partial — the plan is a single stage and the whole query
    is bandwidth-bound, exactly what you want for a 100 TB scan."""
    lin = load_table(spark, sf_dir, "lineitem")
    return (
        lin.where(
            (F.col("l_shipdate") >= "1994-01-01")
            & (F.col("l_shipdate") < "1995-01-01")
            & (F.col("l_discount").between(0.05, 0.07))
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.sum((F.col("l_extendedprice") * F.col("l_discount")).cast(_DEC))
            .cast("double")
            .alias("revenue"),
            F.count(F.lit(1)).alias("n"),
        )
    )


@query(
    "tpch_q10_returned_items",
    """
    SELECT c.c_custkey, c.c_name, n.n_name,
           CAST(sum(CAST(l.l_extendedprice * (1 - l.l_discount)
                AS DECIMAL(38,6))) AS DOUBLE) AS revenue
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE o.o_orderdate >= DATE '1993-10-01'
      AND o.o_orderdate < DATE '1994-01-01'
      AND l.l_returnflag = 'R'
    GROUP BY c.c_custkey, c.c_name, n.n_name
    ORDER BY revenue DESC, c.c_custkey
    LIMIT 20
    """,
)
def tpch_q10_returned_items(spark: SparkSession, sf_dir: str) -> SDF:
    """TPC-H Q10: 4-table join -> group -> top-20.  Join order: lineitem
    (filtered on returnflag at the scan) joins date-filtered orders on the
    fact key; customer joins the aggregated result; nation broadcasts.
    The TopK is a TakeOrderedAndProject - no full sort of the aggregate."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    lin = load_table(spark, sf_dir, "lineitem")
    nation = load_table(spark, sf_dir, "nation")
    o = orders.where(
        (F.col("o_orderdate") >= "1993-10-01") & (F.col("o_orderdate") < "1994-01-01")
    )
    l = lin.where(F.col("l_returnflag") == "R")
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(_DEC)
    j = (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(cust, o.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
    )
    return (
        j.groupBy("c_custkey", "c_name", "n_name")
        .agg(F.sum(rev).cast("double").alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


# ---------------------------------------------------------------------------
# event-analytics shapes: funnel conversion + cohort retention
# ---------------------------------------------------------------------------


@query(
    "funnel_conversion",
    """
    WITH v AS (SELECT user_id, min(CAST(ts AS TIMESTAMP)) AS first_view
               FROM events WHERE event_type = 'view' GROUP BY user_id),
         p AS (SELECT e.user_id, min(CAST(e.ts AS TIMESTAMP)) AS first_buy
               FROM events e JOIN v ON e.user_id = v.user_id
               WHERE e.event_type = 'purchase'
                 AND CAST(e.ts AS TIMESTAMP) >= v.first_view
               GROUP BY e.user_id)
    SELECT (SELECT count(*) FROM v) AS n_viewed,
           (SELECT count(*) FROM p) AS n_converted,
           round(CAST((SELECT count(*) FROM p) AS DOUBLE)
                 / (SELECT count(*) FROM v), 4) AS conv_rate
    """,
)
def funnel_conversion(spark: SparkSession, sf_dir: str) -> SDF:
    """View→purchase funnel: users whose first purchase follows their
    first view.  One shuffle on user_id serves both stage aggregates
    (conditional min-timestamps in a single groupBy), then a 1-row
    summary — the standard product-analytics funnel shape."""
    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("first_view"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias(
            "first_buy_any"
        ),
    )
    # first purchase AT OR AFTER the first view needs the conditional min
    # against first_view — second pass over the same user partition
    buys = ev.where(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("buy_ts")
    )
    pj = per_user.where(F.col("first_view").isNotNull())
    conv = (
        buys.join(pj, "user_id")
        .where(F.col("buy_ts") >= F.col("first_view"))
        .select("user_id")
        .distinct()
    )
    n_viewed = pj.agg(F.count(F.lit(1)).alias("n_viewed"))
    n_conv = conv.agg(F.count(F.lit(1)).alias("n_converted"))
    return (
        n_viewed.crossJoin(n_conv)
        .select(
            "n_viewed",
            "n_converted",
            F.round(
                F.col("n_converted").cast("double") / F.col("n_viewed"), 4
            ).alias("conv_rate"),
        )
    )


@query(
    "cohort_retention",
    """
    WITH f AS (SELECT user_id,
                      min(CAST(CAST(ts AS TIMESTAMP) AS DATE)) AS cohort_day
               FROM events GROUP BY user_id),
         a AS (SELECT DISTINCT e.user_id, f.cohort_day,
                      date_diff('day', f.cohort_day,
                                CAST(CAST(e.ts AS TIMESTAMP) AS DATE)) AS day_offset
               FROM events e JOIN f ON e.user_id = f.user_id)
    SELECT cohort_day, CAST(day_offset AS BIGINT) AS day_offset,
           count(*) AS n_users
    FROM a WHERE day_offset <= 7
    GROUP BY cohort_day, day_offset
    """,
)
def cohort_retention(spark: SparkSession, sf_dir: str) -> SDF:
    """Cohort retention: users grouped by first-seen day, counted on each
    of their active day-offsets (0..7).  Two shuffles total — first-seen
    per user, then the (cohort, offset) rollup; the user→cohort join
    rides the first shuffle's partitioning."""
    ev = load_table(spark, sf_dir, "events")
    day = F.to_date("ts")
    first = ev.groupBy("user_id").agg(F.min(day).alias("cohort_day"))
    active = (
        ev.select("user_id", day.alias("d"))
        .join(first, "user_id")
        .select(
            "user_id",
            "cohort_day",
            F.datediff("d", "cohort_day").alias("day_offset"),
        )
        .where(F.col("day_offset") <= 7)
        .distinct()
    )
    return active.groupBy("cohort_day", F.col("day_offset").cast("long").alias("day_offset")).agg(
        F.count(F.lit(1)).alias("n_users")
    )


# ---------------------------------------------------------------------------
# round-2 batch: histogram, winsorized stats, TPC-H Q14 + Q18
# ---------------------------------------------------------------------------


@query(
    "hist_totalprice",
    """
    SELECT CAST(floor(o_totalprice / 25000) AS BIGINT) AS bucket,
           count(*) AS n,
           round(CAST(sum(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE), 2)
             AS total
    FROM orders GROUP BY 1
    """,
)
def hist_totalprice(spark: SparkSession, sf_dir: str) -> SDF:
    """Fixed-width numeric histogram (25k-wide buckets of order value) —
    the binning shape behind every distribution dashboard.  One hash
    aggregate on a derived long key, map-side combined; bucket count is
    bounded (price range / width), so the reduce side is tiny at any
    scale."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupBy(
            F.floor(F.col("o_totalprice") / 25000).cast("long").alias("bucket")
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(
                F.sum(F.col("o_totalprice").cast(_DEC)).cast("double"), 2
            ).alias("total"),
        )
    )


@query(
    "stats_winsorize",
    """
    WITH q AS (SELECT l_returnflag,
                      quantile_cont(l_extendedprice, 0.05) AS lo,
                      quantile_cont(l_extendedprice, 0.95) AS hi
               FROM lineitem GROUP BY l_returnflag)
    SELECT l.l_returnflag,
           round(CAST(sum(CAST(least(greatest(l.l_extendedprice, q.lo), q.hi)
                              AS DECIMAL(38,6))) AS DOUBLE) / count(*), 4)
             AS wins_mean,
           count(*) AS n
    FROM lineitem l JOIN q ON l.l_returnflag = q.l_returnflag
    GROUP BY l.l_returnflag
    """,
)
def stats_winsorize(spark: SparkSession, sf_dir: str) -> SDF:
    """Winsorized (p05/p95-clipped) mean per group — outlier-robust stats
    without dropping rows.  Two passes: an exact-percentile aggregate
    produces a GROUPS-sized table (3 rows) that is broadcast back onto the
    fact scan, so the second pass is shuffle-free map-side clamp + partial
    agg.  At 100 TB the percentile pass switches to approx_percentile
    (same plan shape, sketch instead of gather)."""
    lin = spread(load_table(spark, sf_dir, "lineitem"))
    # ONE array-form percentile aggregate: two scalar percentile() calls
    # each buffer the full group separately (same fix as
    # agg_approx_quantile, measured ~2x on the percentile pass)
    pct = F.percentile("l_extendedprice", F.array(F.lit(0.05), F.lit(0.95)))
    q = lin.groupBy("l_returnflag").agg(
        F.element_at(pct, 1).alias("lo"),
        F.element_at(pct, 2).alias("hi"),
    )
    clipped = lin.join(F.broadcast(q), "l_returnflag").select(
        "l_returnflag",
        F.least(F.greatest(F.col("l_extendedprice"), F.col("lo")), F.col("hi"))
        .cast(_DEC)
        .alias("w"),
    )
    return clipped.groupBy("l_returnflag").agg(
        F.round(
            F.sum("w").cast("double") / F.count(F.lit(1)), 4
        ).alias("wins_mean"),
        F.count(F.lit(1)).alias("n"),
    )


@query(
    "tpch_q14_promo_revenue",
    """
    SELECT round(100.0 * CAST(sum(CASE WHEN p_type = 'PROMO'
                 THEN CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6))
                 ELSE 0 END) AS DOUBLE)
               / CAST(sum(CAST(l_extendedprice * (1 - l_discount)
                 AS DECIMAL(38,6))) AS DOUBLE), 4) AS promo_revenue_pct
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1995-09-01'
      AND l_shipdate < TIMESTAMP '1995-10-01'
    """,
)
def tpch_q14_promo_revenue(spark: SparkSession, sf_dir: str) -> SDF:
    """TPC-H Q14 (promotion effect, adapted to this schema's single-word
    p_type): share of one month's revenue from promo parts.  The date
    filter is pushed to the lineitem scan (one month ≈ 1% of rows read),
    part is broadcast, and the conditional ratio folds in DECIMAL for
    partition-order determinism."""
    lin = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1995-09-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1995-10-01").cast("timestamp"))
    )
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(_DEC)
    j = lin.join(F.broadcast(part), lin.l_partkey == part.p_partkey)
    return j.agg(
        F.round(
            F.lit(100.0)
            * F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0).cast(_DEC))).cast("double")
            / F.sum(rev).cast("double"),
            4,
        ).alias("promo_revenue_pct")
    )


@query(
    "tpch_q18_large_volume",
    """
    WITH big AS (SELECT l_orderkey FROM lineitem
                 GROUP BY l_orderkey HAVING sum(l_quantity) > 250)
    SELECT c.c_custkey, c.c_name, o.o_orderkey,
           CAST(o.o_orderdate AS TIMESTAMP) AS o_orderdate, o.o_totalprice,
           round(sum(l.l_quantity), 2) AS total_qty
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    JOIN big ON o.o_orderkey = big.l_orderkey
    GROUP BY c.c_custkey, c.c_name, o.o_orderkey, o.o_orderdate, o.o_totalprice
    ORDER BY o.o_totalprice DESC, o.o_orderkey
    LIMIT 100
    """,
)
def tpch_q18_large_volume(spark: SparkSession, sf_dir: str) -> SDF:
    """TPC-H Q18 (large-volume customers): orders whose total quantity
    exceeds 250, joined back to customer detail, top-100 by price.  The
    HAVING pre-aggregate runs FIRST and is left-semi-shaped: the big
    fact-fact join probes only qualifying orderkeys (a few hundred), which
    Spark broadcasts after AQE sees the tiny build side.  Quantity sums
    ride the same l_orderkey shuffle as the qualifier."""
    lin = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    big = (
        lin.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("q"))
        .where(F.col("q") > 250)
        .select(F.col("l_orderkey").alias("big_okey"))
    )
    j = (
        orders.join(big, orders.o_orderkey == big.big_okey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(lin, orders.o_orderkey == lin.l_orderkey)
    )
    return (
        j.groupBy("c_custkey", "c_name", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(F.round(F.sum("l_quantity"), 2).alias("total_qty"))
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(100)
    )
