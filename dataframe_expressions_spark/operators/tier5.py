"""Tier 5 — round-2 additions: the remaining oracle-able TPC-H family
(Q4/Q7/Q8/Q12/Q13/Q15/Q17/Q19/Q21/Q22, adapted to this testdata's schema —
no partsupp table, no l_commitdate/l_receiptdate/l_shipmode columns, so
the late-shipment predicate is l_shipdate vs o_orderdate and Q12's
shipmode axis becomes l_linestatus) plus training-pipeline sequence
packing / mixture sampling and per-user time-series smoothing/anomaly
detection over the events table.

Oracle discipline matches tier2: DECIMAL(38,6)-folded double sums, bigint
counts, doubles rounded AFTER ranking with unique tie-breaks, identical
column aliases on both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame as SDF
from pyspark.sql import SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..functions import dedup as D
from ..functions import text as TX
from ..sources.tables import epoch_us, load_table, read_parquet
from .registry import query
from .tier3 import _TOKS

_DEC = "decimal(38,6)"


def _rev() -> F.Column:
    """l_extendedprice * (1 - l_discount), DECIMAL-folded for
    partition-order-independent sums."""
    return (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(_DEC)


# ---------------------------------------------------------------------------
# TPC-H remainder (adapted)
# ---------------------------------------------------------------------------


@query(
    "tpch_q4_late_exists",
    """
    SELECT o_orderpriority, count(*) AS order_count
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate < TIMESTAMP '1997-01-01'
      AND EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey
                    AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
    GROUP BY o_orderpriority
    """,
)
def tpch_q4_late_exists(spark: SparkSession, sf_dir: str) -> SDF:
    """TPC-H Q4 (order priority checking), late-ship EXISTS adapted to
    l_shipdate > o_orderdate + 60d (no l_commitdate in this schema).  The
    correlated EXISTS lowers to a LEFT SEMI join whose equi-key
    (orderkey) drives the shuffle; the date predicate rides along as a
    residual condition, so no per-order subquery ever executes — the
    scale-right decorrelation."""
    orders = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    lin = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    late = orders.join(
        lin,
        (orders.o_orderkey == lin.l_orderkey)
        & (lin.l_shipdate > orders.o_orderdate + F.expr("INTERVAL 60 DAYS")),
        "left_semi",
    )
    return late.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("order_count")
    )


@query(
    "tpch_q7_volume_shipping",
    """
    SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           year(l_shipdate) AS l_year,
           round(CAST(sum(CAST(l_extendedprice * (1 - l_discount)
                               AS DECIMAL(38,6))) AS DOUBLE), 2) AS revenue
    FROM lineitem l
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
    WHERE ((n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_8')
        OR (n1.n_name = 'NATION_8' AND n2.n_name = 'NATION_3'))
      AND l_shipdate BETWEEN TIMESTAMP '1996-01-01' AND TIMESTAMP '1997-12-31'
    GROUP BY n1.n_name, n2.n_name, year(l_shipdate)
    """,
)
def tpch_q7_volume_shipping(spark: SparkSession, sf_dir: str) -> SDF:
    """TPC-H Q7 (volume shipping between a nation pair, both directions,
    by year).  lineitem⨝orders is the only big-big join (equi on
    orderkey); supplier+nation and customer+nation are dimension chains —
    nation is broadcast explicitly, supplier/customer sides are left to
    AQE (at 100 TB customer no longer fits a broadcast and falls back to
    the shuffle the plan already declares).  The nation-pair filter
    applies before the fact join, shrinking both sides."""
    lin = load_table(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate").between(
            F.lit("1996-01-01").cast("timestamp"),
            F.lit("1997-12-31").cast("timestamp"),
        )
    )
    sup = load_table(spark, sf_dir, "supplier")
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    nat = load_table(spark, sf_dir, "nation")
    n1 = F.broadcast(nat.select(F.col("n_nationkey").alias("sn_key"),
                                F.col("n_name").alias("supp_nation")))
    n2 = F.broadcast(nat.select(F.col("n_nationkey").alias("cn_key"),
                                F.col("n_name").alias("cust_nation")))
    j = (
        lin.join(sup, lin.l_suppkey == sup.s_suppkey)
        .join(n1, F.col("s_nationkey") == F.col("sn_key"))
        .join(orders, lin.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(n2, F.col("c_nationkey") == F.col("cn_key"))
        .where(
            ((F.col("supp_nation") == "NATION_3") & (F.col("cust_nation") == "NATION_8"))
            | ((F.col("supp_nation") == "NATION_8") & (F.col("cust_nation") == "NATION_3"))
        )
    )
    return (
        j.groupBy("supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year"))
        .agg(F.round(F.sum(_rev()).cast("double"), 2).alias("revenue"))
    )


@query(
    "tpch_q8_market_share",
    """
    WITH flat AS (
      SELECT year(o.o_orderdate) AS o_year,
             CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6)) AS vol,
             n2.n_name AS supp_nation
      FROM lineitem l
      JOIN part p ON l.l_partkey = p.p_partkey
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      JOIN nation n2 ON s.s_nationkey = n2.n_nationkey
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n1 ON c.c_nationkey = n1.n_nationkey
      JOIN region r ON n1.n_regionkey = r.r_regionkey
      WHERE r.r_name = 'ASIA' AND p.p_type = 'STANDARD'
        AND o.o_orderdate BETWEEN TIMESTAMP '1995-01-01'
                              AND TIMESTAMP '1997-12-31')
    SELECT o_year,
           round(CAST(sum(CASE WHEN supp_nation = 'NATION_2' THEN vol
                               ELSE CAST(0 AS DECIMAL(38,6)) END) AS DOUBLE)
                 / CAST(sum(vol) AS DOUBLE), 4) AS mkt_share
    FROM flat GROUP BY o_year
    """,
)
def tpch_q8_market_share(spark: SparkSession, sf_dir: str) -> SDF:
    """TPC-H Q8 (national market share): NATION_2's share of STANDARD-part
    revenue sold into ASIA-region customers, per order-year.  part is
    pre-filtered and broadcast (one p_type ≈ 1/6 of parts), nation/region
    are broadcast; the only key that ever carries fact-table volume is
    l_orderkey.  The conditional share folds in DECIMAL so the ratio is
    partition-order deterministic."""
    lin = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").where(
        F.col("p_type") == "STANDARD"
    ).select("p_partkey")
    sup = load_table(spark, sf_dir, "supplier")
    orders = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderdate").between(
            F.lit("1995-01-01").cast("timestamp"),
            F.lit("1997-12-31").cast("timestamp"),
        )
    )
    cust = load_table(spark, sf_dir, "customer")
    nat = load_table(spark, sf_dir, "nation")
    reg = load_table(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    n2 = F.broadcast(nat.select(F.col("n_nationkey").alias("sn_key"),
                                F.col("n_name").alias("supp_nation")))
    asia_nat = F.broadcast(
        nat.join(F.broadcast(reg), nat.n_regionkey == reg.r_regionkey)
        .select(F.col("n_nationkey").alias("cn_key"))
    )
    j = (
        lin.join(F.broadcast(part), lin.l_partkey == part.p_partkey)
        .join(sup, lin.l_suppkey == sup.s_suppkey)
        .join(n2, F.col("s_nationkey") == F.col("sn_key"))
        .join(orders, lin.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(asia_nat, F.col("c_nationkey") == F.col("cn_key"))
    )
    zero = F.lit(0).cast(_DEC)
    return (
        j.groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            F.round(
                F.sum(F.when(F.col("supp_nation") == "NATION_2", _rev()).otherwise(zero)).cast("double")
                / F.sum(_rev()).cast("double"),
                4,
            ).alias("mkt_share")
        )
    )


@query(
    "tpch_q12_priority_class",
    """
    SELECT l_linestatus,
           CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      AND l_shipdate < TIMESTAMP '1998-01-01'
    GROUP BY l_linestatus
    """,
)
def tpch_q12_priority_class(spark: SparkSession, sf_dir: str) -> SDF:
    """TPC-H Q12 (shipping priority by mode), adapted: l_linestatus plays
    the l_shipmode axis this schema lacks.  One equi-join on orderkey with
    the year filter pushed to the lineitem scan; the urgent/other split is
    a conditional sum riding the same aggregate — two output counters,
    one shuffle."""
    lin = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority"
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    j = lin.join(orders, lin.l_orderkey == orders.o_orderkey)
    return j.groupBy("l_linestatus").agg(
        F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
        F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
    )


@query(
    "tpch_q13_cust_order_dist",
    """
    WITH c_orders AS (
      SELECT c_custkey, count(o_orderkey) AS c_count
      FROM customer LEFT JOIN orders
        ON c_custkey = o_custkey AND o_orderpriority <> '4-NOT SPECIFIED'
      GROUP BY c_custkey)
    SELECT c_count, count(*) AS custdist
    FROM c_orders GROUP BY c_count
    """,
)
def tpch_q13_cust_order_dist(spark: SparkSession, sf_dir: str) -> SDF:
    """TPC-H Q13 (customer order-count distribution): LEFT OUTER join so
    order-less customers keep c_count=0, a residual predicate inside the
    join condition (not a post-filter — that would turn the join inner),
    then a second tiny aggregate over the distinct counts.  The first
    aggregate rides the custkey shuffle; the second one's input is
    |distinct counts| rows."""
    cust = load_table(spark, sf_dir, "customer").select("c_custkey")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", "o_orderpriority"
    )
    j = cust.join(
        orders,
        (cust.c_custkey == orders.o_custkey)
        & (orders.o_orderpriority != "4-NOT SPECIFIED"),
        "left",
    )
    per_cust = j.groupBy("c_custkey").agg(
        F.count("o_orderkey").alias("c_count")
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


@query(
    "tpch_q15_top_supplier",
    """
    WITH rev AS (
      SELECT l_suppkey AS supplier_no,
             sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6)))
               AS total_rev
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate < TIMESTAMP '1996-04-01'
      GROUP BY l_suppkey)
    SELECT s_suppkey, s_name,
           round(CAST(total_rev AS DOUBLE), 2) AS total_revenue
    FROM supplier JOIN rev ON s_suppkey = supplier_no
    WHERE total_rev = (SELECT max(total_rev) FROM rev)
    """,
)
def tpch_q15_top_supplier(spark: SparkSession, sf_dir: str) -> SDF:
    """TPC-H Q15 (top supplier by quarterly revenue).  The revenue CTE is
    one suppkey-shuffled aggregate; the scalar-max subquery decorrelates
    to a 1-row aggregate broadcast back onto it (never a global sort).
    The max compare happens on the exact DECIMAL sum — ties keep every
    argmax row on both engines, no double-rounding ambiguity."""
    lin = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    rev = lin.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        F.sum(_rev()).alias("total_rev")
    )
    top = F.broadcast(rev.agg(F.max("total_rev").alias("mx")))
    sup = load_table(spark, sf_dir, "supplier")
    return (
        rev.join(top, rev.total_rev == F.col("mx"))
        .join(sup, F.col("supplier_no") == sup.s_suppkey)
        .select(
            "s_suppkey",
            "s_name",
            F.round(F.col("total_rev").cast("double"), 2).alias("total_revenue"),
        )
    )


@query(
    "tpch_q17_small_qty",
    """
    SELECT round(CAST(sum(CAST(l.l_extendedprice AS DECIMAL(38,6)))
                      AS DOUBLE) / 7.0, 2) AS avg_yearly
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    JOIN (SELECT l_partkey AS pk, 0.2 * avg(l_quantity) AS lim
          FROM lineitem GROUP BY l_partkey) a ON a.pk = l.l_partkey
    WHERE p.p_brand = 'Brand#1' AND l.l_quantity < a.lim
    """,
)
def tpch_q17_small_qty(spark: SparkSession, sf_dir: str) -> SDF:
    """TPC-H Q17 (small-quantity-order revenue): the correlated
    `0.2 * avg(l_quantity)` per part decorrelates into a partkey
    aggregate joined back to the fact — both sides ride the same partkey
    shuffle, so the "subquery" costs one extra aggregate, not N probes.
    avg(l_quantity) is exact on both engines (quantities are small
    integers stored as doubles; the sum is exact in IEEE range), so the
    strict `<` cut agrees bit-for-bit."""
    lin = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").where(
        F.col("p_brand") == "Brand#1"
    ).select("p_partkey")
    lim = lin.groupBy(F.col("l_partkey").alias("pk")).agg(
        (F.lit(0.2) * F.avg("l_quantity")).alias("lim")
    )
    j = (
        lin.join(F.broadcast(part), lin.l_partkey == part.p_partkey)
        .join(lim, lin.l_partkey == lim.pk)
        .where(F.col("l_quantity") < F.col("lim"))
    )
    return j.agg(
        F.round(
            F.sum(F.col("l_extendedprice").cast(_DEC)).cast("double") / 7.0, 2
        ).alias("avg_yearly")
    )


@query(
    "tpch_q19_disjunctive",
    """
    SELECT round(CAST(sum(CAST(l_extendedprice * (1 - l_discount)
                               AS DECIMAL(38,6))) AS DOUBLE), 2) AS revenue
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
           AND l_quantity BETWEEN 1 AND 11)
       OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25
           AND l_quantity BETWEEN 10 AND 20)
       OR (p_brand = 'Brand#4' AND p_size BETWEEN 1 AND 35
           AND l_quantity BETWEEN 20 AND 30)
    """,
)
def tpch_q19_disjunctive(spark: SparkSession, sf_dir: str) -> SDF:
    """TPC-H Q19 (discounted revenue under disjunctive predicates).  The
    OR-of-ANDs can't push below the join as-is, but its single-table
    implications can: Catalyst derives `p_brand IN (…)` for the part scan
    and `l_quantity BETWEEN 1 AND 30` for the lineitem scan from the
    disjunction, so both scans still prune; the full predicate evaluates
    post-join on the broadcast hash probe."""
    lin = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    j = lin.join(F.broadcast(part), lin.l_partkey == part.p_partkey)
    q = F.col("l_quantity")
    sz = F.col("p_size")
    cond = (
        ((F.col("p_brand") == "Brand#12") & sz.between(1, 15) & q.between(1, 11))
        | ((F.col("p_brand") == "Brand#23") & sz.between(1, 25) & q.between(10, 20))
        | ((F.col("p_brand") == "Brand#4") & sz.between(1, 35) & q.between(20, 30))
    )
    return j.where(cond).agg(
        F.round(F.sum(_rev()).cast("double"), 2).alias("revenue")
    )


@query(
    "tpch_q21_late_supplier",
    """
    WITH lo AS (
      SELECT l_orderkey,
             count(DISTINCT l_suppkey) AS n_supp,
             count(DISTINCT CASE WHEN l_shipdate > o_orderdate + INTERVAL 60 DAY
                                 THEN l_suppkey END) AS n_late,
             max(CASE WHEN l_shipdate > o_orderdate + INTERVAL 60 DAY
                      THEN l_suppkey END) AS late_supp
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      WHERE o_orderstatus = 'F'
      GROUP BY l_orderkey)
    SELECT s_name, count(*) AS numwait
    FROM lo JOIN supplier ON s_suppkey = late_supp
    WHERE n_supp > 1 AND n_late = 1
    GROUP BY s_name
    ORDER BY numwait DESC, s_name
    LIMIT 20
    """,
)
def tpch_q21_late_supplier(spark: SparkSession, sf_dir: str) -> SDF:
    """TPC-H Q21 (suppliers who kept orders waiting), adapted to the
    l_shipdate>o_orderdate+60d lateness predicate.  The classic
    EXISTS + NOT-EXISTS double correlation collapses into ONE orderkey
    aggregate: an order qualifies iff it has >1 distinct supplier and
    exactly 1 distinct late supplier — `max(case when late)` then names
    that supplier for free on the same shuffle.  Three correlated scans
    in the spec, one pass here; this is the decorrelation that survives
    100 TB."""
    lin = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderstatus") == "F"
    ).select("o_orderkey", "o_orderdate")
    late = F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
    # Two-phase distinct (round 15, guide §2.3): the double
    # countDistinct planned an Expand ×3 of the joined fact rows ahead
    # of the shuffle.  Collapse to distinct (orderkey, suppkey) pairs
    # first — partial aggregation shrinks them map-side — then count
    # pairs; the second aggregate reuses the first one's partitioning
    # (l_orderkey is a prefix of the pair key), so this is ONE exchange
    # of narrow pair rows instead of a tripled fact shuffle.
    # Equivalences: n_supp = |pairs|; n_late = |pairs with any late
    # lineitem|; max(when(late, suppkey)) over rows = max over
    # late-flagged pairs.
    lo = (
        lin.join(orders, lin.l_orderkey == orders.o_orderkey)
        .groupBy("l_orderkey", "l_suppkey")
        .agg(F.max(late).alias("any_late"))
        .groupBy("l_orderkey")
        .agg(
            F.count(F.lit(1)).alias("n_supp"),
            F.count_if(F.col("any_late")).alias("n_late"),
            F.max(F.when(F.col("any_late"), F.col("l_suppkey"))).alias(
                "late_supp"
            ),
        )
        .where((F.col("n_supp") > 1) & (F.col("n_late") == 1))
    )
    sup = load_table(spark, sf_dir, "supplier")
    return (
        lo.join(F.broadcast(sup), lo.late_supp == sup.s_suppkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.desc("numwait"), F.asc("s_name"))
        .limit(20)
    )


@query(
    "tpch_q22_idle_customers",
    """
    WITH thr AS (
      SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(38,6))) AS DOUBLE)
             / count(*) AS ab
      FROM customer WHERE c_acctbal > 0)
    SELECT c_nationkey AS cntry, count(*) AS numcust,
           round(CAST(sum(CAST(c_acctbal AS DECIMAL(38,6))) AS DOUBLE), 2)
             AS totacctbal
    FROM customer, thr
    WHERE c_acctbal > thr.ab
      AND NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c_custkey
                        AND o.o_orderdate >= TIMESTAMP '2000-06-01')
    GROUP BY c_nationkey
    """,
)
def tpch_q22_idle_customers(spark: SparkSession, sf_dir: str) -> SDF:
    """TPC-H Q22 (global sales opportunity), adapted: "has no orders"
    never fires on this data (every customer orders), so the dormancy
    predicate is "no orders since 2000-06-01"; nationkey stands in for
    the phone country code.  Shape preserved exactly: a scalar-average
    subquery (decorrelated to a broadcast 1-row aggregate, DECIMAL-folded
    so the threshold double is identical on both engines) + a LEFT ANTI
    join against the filtered orders, then a nationkey aggregate."""
    cust = load_table(spark, sf_dir, "customer")
    thr = F.broadcast(
        cust.where(F.col("c_acctbal") > 0).agg(
            (F.sum(F.col("c_acctbal").cast(_DEC)).cast("double")
             / F.count(F.lit(1))).alias("ab")
        )
    )
    recent = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderdate") >= F.lit("2000-06-01").cast("timestamp")
    ).select("o_custkey")
    rich = cust.crossJoin(thr).where(F.col("c_acctbal") > F.col("ab"))
    idle = rich.join(recent, rich.c_custkey == recent.o_custkey, "left_anti")
    return idle.groupBy(F.col("c_nationkey").alias("cntry")).agg(
        F.count(F.lit(1)).alias("numcust"),
        F.round(F.sum(F.col("c_acctbal").cast(_DEC)).cast("double"), 2).alias(
            "totacctbal"
        ),
    )


# ---------------------------------------------------------------------------
# training-pipeline: sequence packing + mixture sampling
# ---------------------------------------------------------------------------


@query(
    "seq_pack_fill",
    f"""
    WITH t AS (SELECT doc_id, source, len({_TOKS}) AS n_tok FROM documents),
         w AS (SELECT source, n_tok,
                      sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id
                                       ROWS UNBOUNDED PRECEDING) - n_tok
                        AS cum_prev
               FROM t)
    SELECT source, CAST(floor(cum_prev / 2048) AS BIGINT) AS chunk,
           count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS n_tokens
    FROM w GROUP BY source, chunk
    """,
)
def seq_pack_fill(spark: SparkSession, sf_dir: str) -> SDF:
    """Sequence packing for LM training (concat-and-chunk): documents are
    concatenated in doc_id order per source and sliced into 2048-token
    context windows; a doc lands in the chunk where its first token falls
    (floor(cumulative-prefix / 2048)).  One window cumsum per source —
    deterministic, no greedy bin-packing state — then a per-chunk rollup
    on the same partitioning.  At 100 TB the PARTITION BY source keeps
    every source independent, so packing parallelizes across sources and
    the window never sees more than one source's docs."""
    docs = D.spread(load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "text"
    ))
    t = docs.select(
        "doc_id", "source", F.size(TX.tokens(F.col("text"))).cast("long").alias("n_tok")
    )
    w = W.partitionBy("source").orderBy("doc_id").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    packed = t.select(
        "source",
        "n_tok",
        (F.sum("n_tok").over(w) - F.col("n_tok")).alias("cum_prev"),
    )
    return packed.groupBy(
        "source", F.floor(F.col("cum_prev") / 2048).cast("long").alias("chunk")
    ).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").cast("long").alias("n_tokens"),
    )


@query(
    "mixture_sample",
    f"""
    WITH t AS (
      SELECT source,
             CAST(substr(source, 4) AS INTEGER) AS src_idx,
             len({_TOKS}) AS n_tok,
             list_reduce(list_prepend(CAST(0 AS BIGINT),
                 list_transform(range(1, length(text) + 1),
                     i -> CAST(ascii(substr(text, i, 1)) AS BIGINT))),
                 (a, x) -> (a * 31 + x) % 1000000007) AS fp
      FROM documents)
    SELECT source, count(*) AS n_docs,
           CAST(sum(CASE WHEN fp % 100 < (CASE WHEN src_idx < 4 THEN 100
                                               WHEN src_idx < 10 THEN 50
                                               ELSE 20 END)
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           CAST(sum(CASE WHEN fp % 100 < (CASE WHEN src_idx < 4 THEN 100
                                               WHEN src_idx < 10 THEN 50
                                               ELSE 20 END)
                         THEN n_tok ELSE 0 END) AS BIGINT) AS tokens_kept
    FROM t GROUP BY source
    """,
)
def mixture_sample(spark: SparkSession, sf_dir: str) -> SDF:
    """Deterministic data-mixture sampling: each source gets a target keep
    rate (srcs 0-3 → 100 %, 4-9 → 50 %, rest → 20 %) enforced by a
    content-fingerprint mod — reproducible across runs/engines, no RNG
    state, and re-running on a grown corpus keeps previously-kept docs
    (hash-stable sampling).  Pure map-side decision + one aggregate; at
    100 TB the keep decision costs one fused projection, no shuffle
    beyond the final per-source rollup."""
    docs = D.spread(load_table(spark, sf_dir, "documents").select("source", "text"))
    idx = F.substring("source", 4, 10).cast("int")
    pct = (
        F.when(idx < 4, 100).when(idx < 10, 50).otherwise(20)
    )
    keep = TX.char_fingerprint(F.col("text")) % 100 < pct
    n_tok = F.size(TX.tokens(F.col("text"))).cast("long")
    return docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.when(keep, 1).otherwise(0)).alias("n_kept"),
        F.sum(F.when(keep, n_tok).otherwise(F.lit(0))).cast("long").alias(
            "tokens_kept"
        ),
    )


# ---------------------------------------------------------------------------
# time-series: EWMA smoothing + z-score anomaly detection over events
# ---------------------------------------------------------------------------


@query(
    "ewma_smooth",
    """
    SELECT user_id, count(*) AS n_events,
           round(list_reduce(list(value ORDER BY ts, event_id),
                             (a, x) -> 0.25 * x + 0.75 * a), 4) AS ewma
    FROM events GROUP BY user_id
    """,
)
def ewma_smooth(spark: SparkSession, sf_dir: str) -> SDF:
    """Per-user exponentially-weighted moving average (alpha=0.25) over the
    event stream, seeded with the first observation.  The fold is a
    sequential recurrence, so it lowers to sort_array(collect_list(...))
    + an in-row aggregate() — ONE shuffle on user_id, the recurrence runs
    inside the row.  Both engines fold identical doubles in identical
    (ts, event_id) order, so the IEEE result matches bit-for-bit.  At
    100 TB per-user event counts are bounded (state ≈ one user's events);
    unbounded keys would move this to applyInPandasWithState."""
    ev = load_table(spark, sf_dir, "events")
    g = ev.groupBy("user_id").agg(
        F.sort_array(F.collect_list(F.struct("ts", "event_id", "value"))).alias("xs")
    )
    vals = F.col("xs").getField("value")
    ewma = F.aggregate(
        F.slice(vals, F.lit(2), F.greatest(F.size(vals) - 1, F.lit(0))),
        F.element_at(vals, 1),
        lambda acc, x: F.lit(0.25) * x + F.lit(0.75) * acc,
    )
    return g.select(
        "user_id",
        F.size("xs").cast("long").alias("n_events"),
        F.round(ewma, 4).alias("ewma"),
    )


@query(
    "anomaly_zscore",
    """
    WITH s AS (
      SELECT user_id, value,
             count(*) OVER (PARTITION BY user_id) AS n,
             CAST(sum(CAST(value AS DECIMAL(38,6)))
                  OVER (PARTITION BY user_id) AS DOUBLE) AS sx,
             CAST(sum(CAST(value * value AS DECIMAL(38,6)))
                  OVER (PARTITION BY user_id) AS DOUBLE) AS sxx
      FROM events),
         z AS (
      SELECT user_id, n,
             (value - sx / n)
               / sqrt((sxx - sx * sx / n) / (n - 1)) AS zs
      FROM s WHERE n > 1 AND (sxx - sx * sx / n) > 0)
    SELECT user_id, CAST(max(n) AS BIGINT) AS n_events,
           count(*) AS n_anomalies
    FROM z WHERE abs(zs) > 2 GROUP BY user_id
    """,
)
def anomaly_zscore(spark: SparkSession, sf_dir: str) -> SDF:
    """Per-user z-score anomaly detection: events more than 2 sample
    standard deviations from the user's mean.  Mean/variance come from
    exact DECIMAL moment sums over an unbounded user window (one shuffle;
    the same pass scores every row — no stats-table join), so the double
    arithmetic downstream is partition-order deterministic and the |z|>2
    cut agrees across engines.  Degenerate users (n=1 or zero variance)
    are excluded before the division."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "value")
    w = W.partitionBy("user_id")
    n = F.count(F.lit(1)).over(w)
    sx = F.sum(F.col("value").cast(_DEC)).over(w).cast("double")
    sxx = F.sum((F.col("value") * F.col("value")).cast(_DEC)).over(w).cast("double")
    s = ev.select(
        "user_id",
        "value",
        n.alias("n"),
        sx.alias("sx"),
        sxx.alias("sxx"),
    ).where((F.col("n") > 1) & (F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n") > 0))
    zs = (F.col("value") - F.col("sx") / F.col("n")) / F.sqrt(
        (F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n"))
        / (F.col("n") - 1)
    )
    return (
        s.where(F.abs(zs) > 2)
        .groupBy("user_id")
        .agg(
            F.max("n").cast("long").alias("n_events"),
            F.count(F.lit(1)).alias("n_anomalies"),
        )
    )


# ---------------------------------------------------------------------------
# grouped-map Pandas UDF (applyInPandas) — the batch custom-operator boundary
# ---------------------------------------------------------------------------


@query(
    "grouped_map_pandas",
    """
    WITH e AS (SELECT user_id, epoch_us(ts) AS t FROM events),
         d AS (SELECT user_id, t,
                      t - lag(t) OVER (PARTITION BY user_id ORDER BY t) AS gap
               FROM e)
    SELECT user_id,
           count(*) AS n_events,
           CAST(max(t) - min(t) AS BIGINT) AS span_us,
           CAST(max(gap) AS BIGINT) AS max_gap_us,
           CAST(min(gap) AS BIGINT) AS min_gap_us
    FROM d GROUP BY user_id HAVING count(*) >= 2
    """,
)
def grouped_map_pandas(spark: SparkSession, sf_dir: str) -> SDF:
    """Grouped-map Pandas UDF (``applyInPandas``): per-user inter-event
    gap statistics computed imperatively over each user's full history —
    the API boundary for custom batch operators whose per-group logic
    doesn't decompose into built-in aggregates (sessionization variants,
    per-entity model fits, trajectory features).

    These particular stats ARE window-expressible (the oracle proves it
    with lag()); the query exists to pin the grouped-map contract: one
    hash shuffle on user_id, Arrow-batched transfer, each group processed
    as a pandas frame.  All outputs are exact int64 microsecond arithmetic
    (epoch_us on both sides), so both engines agree bit-for-bit — no
    float summation-order hazard crosses the Python boundary.  Scale: a
    GROUP (one user's events) must fit in one executor's memory — the
    operative constraint of applyInPandas at 100 TB; per-user event
    counts are bounded, the fleet of users parallelizes."""
    import pandas as pd

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", epoch_us("ts").alias("t")
    )

    # SALT-BUCKETED grouped map (round 15): grouping by raw user_id
    # shipped ~1500 one-user pandas frames per executor — ~2.5 ms of
    # frame-construction overhead per group dominated the stage (3.8 s
    # at sf0.1 for 100k rows; guide §4.2: hand WHOLE BATCHES to
    # vectorized code).  The group key is now a deterministic hash
    # bucket of user_id (SPARK-38388-safe — no rand()), sized to the
    # cluster so each applyInPandas call sees many users and the
    # per-user logic runs as ONE C-speed pandas groupby.  The operative
    # 100 TB constraint improves too: a TASK now holds corpus/N_BUCKETS
    # rows instead of needing every single user to be small, and
    # N_BUCKETS scales with the cluster's parallelism.
    n_buckets = spark.sparkContext.defaultParallelism * 8

    def gap_stats(pdf: "pd.DataFrame") -> "pd.DataFrame":
        if pdf.empty:
            return pd.DataFrame(
                columns=["user_id", "n_events", "span_us",
                         "max_gap_us", "min_gap_us"]
            )
        pdf = pdf.sort_values(["user_id", "t"], kind="mergesort")
        uid = pdf["user_id"]
        g = pdf.groupby("user_id", sort=False, dropna=False)["t"]
        gaps = pdf["t"].diff()
        gaps[uid.ne(uid.shift())] = None
        gg = gaps.groupby(uid.to_numpy(), sort=False)
        out = pd.DataFrame(
            {
                "n_events": g.size(),
                "span_us": g.max() - g.min(),
                "max_gap_us": gg.max(),
                "min_gap_us": gg.min(),
            }
        )
        out = out[out["n_events"] >= 2].reset_index(names="user_id")
        return out.astype("int64")[
            ["user_id", "n_events", "span_us", "max_gap_us", "min_gap_us"]
        ]

    # Explicit repartition on the bucket key: AQE coalesces this tiny
    # shuffle to ONE post-shuffle partition, which serializes every
    # pandas group through a single worker; a user-specified
    # repartition pins the width, and the groupBy on the same key
    # reuses the partitioning (ClusteredDistribution satisfied — one
    # exchange total, guide §2.4).
    bucket = F.pmod(F.xxhash64("user_id"), F.lit(n_buckets))
    width = spark.sparkContext.defaultParallelism
    return (
        ev.repartition(width, bucket)
        .groupBy(bucket)
        .applyInPandas(
            gap_stats,
            schema="user_id long, n_events long, span_us long, "
            "max_gap_us long, min_gap_us long",
        )
    )


@query(
    "cogrouped_asof_pandas",
    """
    WITH b AS (SELECT user_id, event_id, epoch_us(ts) AS bt FROM events
               WHERE event_type = 'purchase'),
         v AS (SELECT user_id, epoch_us(ts) AS vt FROM events
               WHERE event_type = 'view')
    SELECT b.user_id, b.event_id,
           CAST(b.bt AS BIGINT) AS buy_t,
           CAST(max(v.vt) AS BIGINT) AS last_view_t
    FROM b JOIN v ON b.user_id = v.user_id AND v.vt <= b.bt
    GROUP BY b.user_id, b.event_id, b.bt
    """,
)
def cogrouped_asof_pandas(spark: SparkSession, sf_dir: str) -> SDF:
    """Cogrouped-map Pandas UDF (``groupBy().cogroup().applyInPandas``):
    for every purchase, the most recent preceding view by the same user —
    a per-key as-of merge done imperatively with numpy searchsorted over
    the two cogrouped frames.  This is the two-input custom-operator
    boundary (the one-input twin is grouped_map_pandas); the relational
    as-of composition lives in join_asof — this pins the cogroup API
    contract on exact int64 microseconds.  Scale: ONE co-partitioned
    hash shuffle on user_id for both sides, Arrow-batched; each user's
    two frames meet in memory — state bounded per key, never global.
    Purchases with no preceding view are dropped (inner as-of)."""
    import pandas as pd

    ev = load_table(spark, sf_dir, "events")
    buys = ev.where(F.col("event_type") == "purchase").select(
        "user_id", "event_id", epoch_us("ts").alias("bt")
    )
    views = ev.where(F.col("event_type") == "view").select(
        "user_id", epoch_us("ts").alias("vt")
    )

    # SALT-BUCKETED cogroup (round 15, the grouped_map_pandas change's
    # two-input twin): cogrouping on raw user_id paid the per-group
    # Arrow/pandas frame overhead ~1500 times per side (3.8 s at
    # sf0.1); both sides now cogroup on the same deterministic hash
    # bucket of user_id, so each call sees many users and the per-user
    # as-of merge runs as ONE vectorized pandas merge_asof(by=user_id)
    # — C-speed, identical inner-asof semantics (backward search,
    # exact matches allowed, no-view buys dropped).  State per task is
    # corpus/N_BUCKETS instead of one user's history; N_BUCKETS scales
    # with cluster parallelism.
    n_buckets = spark.sparkContext.defaultParallelism * 8

    def asof(left: "pd.DataFrame", right: "pd.DataFrame") -> "pd.DataFrame":
        cols = ["user_id", "event_id", "buy_t", "last_view_t"]
        if left.empty or right.empty:
            return pd.DataFrame(columns=cols)
        merged = pd.merge_asof(
            left.sort_values("bt", kind="mergesort"),
            right.sort_values("vt", kind="mergesort"),
            left_on="bt",
            right_on="vt",
            by="user_id",
            direction="backward",
        ).dropna(subset=["vt"])
        return pd.DataFrame(
            {
                "user_id": merged["user_id"].astype("int64"),
                "event_id": merged["event_id"].astype("int64"),
                "buy_t": merged["bt"].astype("int64"),
                "last_view_t": merged["vt"].astype("int64"),
            }
        )

    # Explicit repartition on the bucket key (see grouped_map_pandas):
    # AQE otherwise coalesces the tiny cogroup shuffles to one
    # partition and serializes the pandas stage through one worker.
    bucket = F.pmod(F.xxhash64("user_id"), F.lit(n_buckets))
    width = spark.sparkContext.defaultParallelism
    return (
        buys.repartition(width, bucket)
        .groupBy(bucket)
        .cogroup(views.repartition(width, bucket).groupBy(bucket))
        .applyInPandas(
            asof,
            schema="user_id long, event_id long, buy_t long, last_view_t long",
        )
    )


# ---------------------------------------------------------------------------
# batch sessionization, TF-IDF, iterative k-means
# ---------------------------------------------------------------------------


@query(
    "sessionize_batch",
    """
    WITH e AS (SELECT user_id, epoch_us(ts) AS t FROM events),
         d AS (SELECT user_id, t,
                      CASE WHEN lag(t) OVER w IS NULL
                             OR t - lag(t) OVER w > 1800000000
                           THEN 1 ELSE 0 END AS brk
               FROM e WINDOW w AS (PARTITION BY user_id ORDER BY t)),
         s AS (SELECT user_id, t,
                      sum(brk) OVER (PARTITION BY user_id ORDER BY t
                                     ROWS UNBOUNDED PRECEDING) AS sid
               FROM d)
    SELECT user_id, CAST(sid AS BIGINT) AS session_id,
           count(*) AS n_events,
           CAST(min(t) AS BIGINT) AS start_us,
           CAST(max(t) AS BIGINT) AS end_us
    FROM s GROUP BY user_id, sid
    """,
)
def sessionize_batch(spark: SparkSession, sf_dir: str) -> SDF:
    """Batch sessionization (gaps-and-islands): a new session starts after
    a >30-minute silence.  The streaming twin is session_window; this is
    the backfill shape every clickstream pipeline runs over history.
    ONE shuffle on user_id — the lag window, the running break-count
    window and the final (user, session) aggregate all ride the same
    hash partitioning, and Catalyst plans exactly one Exchange.  Exact
    int64 microseconds end-to-end; the >-strict boundary is identical
    SQL semantics on both engines (no session_window edge asymmetry)."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", epoch_us("ts").alias("t")
    )
    wl = W.partitionBy("user_id").orderBy("t")
    brk = F.when(
        F.lag("t").over(wl).isNull()
        | ((F.col("t") - F.lag("t").over(wl)) > 1_800_000_000),
        F.lit(1),
    ).otherwise(F.lit(0))
    s = ev.select(
        "user_id",
        "t",
        F.sum(brk).over(
            wl.rowsBetween(W.unboundedPreceding, W.currentRow)
        ).alias("sid"),
    )
    return s.groupBy("user_id", F.col("sid").cast("long").alias("session_id")).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("t").cast("long").alias("start_us"),
        F.max("t").cast("long").alias("end_us"),
    )


@query(
    "tfidf_top_terms",
    f"""
    WITH tok AS (SELECT doc_id, unnest({_TOKS}) AS term FROM documents),
         tf AS (SELECT doc_id, term, count(*) AS tf
                FROM tok GROUP BY doc_id, term),
         df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
         n AS (SELECT count(*) AS n FROM documents),
         s AS (SELECT doc_id, term,
                      tf * ln(CAST(n.n AS DOUBLE) / df.df) AS score
               FROM tf JOIN df USING (term) CROSS JOIN n),
         r AS (SELECT doc_id, term, score,
                      row_number() OVER (PARTITION BY doc_id
                                         ORDER BY score DESC, term) AS rk
               FROM s)
    SELECT doc_id, term, CAST(rk AS BIGINT) AS rk,
           round(score, 6) AS tfidf
    FROM r WHERE rk <= 3
    """,
)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> SDF:
    """Per-document top-3 TF-IDF terms — the classic keyword/feature
    extraction pass.  Two shuffles total: (doc, term) term-frequency
    rollup, then a term-keyed join against document frequencies (df is
    derived from tf with a map-side partial, so the raw token explosion
    is shuffled ONCE); the corpus size N joins as a broadcast 1-row
    aggregate.  Determinism across engines: score = tf · ln(N/df) is
    pure IEEE arithmetic on identical ints (no float summation anywhere),
    ranked BEFORE rounding with a unique (score DESC, term) tie-break."""
    docs = D.spread(load_table(spark, sf_dir, "documents"))
    tok = docs.select("doc_id", F.explode(TX.tokens(F.col("text"))).alias("term"))
    # Eager checkpoint (round 15): df and the score join both consume
    # tf, and without a barrier each leg re-ran the tokenize + explode
    # + first shuffle (before plan: 2× Scan→Generate→HashAggregate).
    # The (doc_id, term, tf) table is post-aggregation — distinct
    # doc-term pairs, far narrower than the raw token explosion.
    tf = (
        tok.groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
        .localCheckpoint(eager=True)
    )
    df = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n = F.broadcast(docs.agg(F.count(F.lit(1)).alias("n")))
    s = tf.join(df, "term").crossJoin(n).select(
        "doc_id",
        "term",
        (F.col("tf") * F.log(F.col("n").cast("double") / F.col("df"))).alias(
            "score"
        ),
    )
    wr = W.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("term"))
    return (
        s.select("doc_id", "term", F.row_number().over(wr).alias("rk"), "score")
        .where(F.col("rk") <= 3)
        .select(
            "doc_id", "term", F.col("rk").cast("long"),
            F.round("score", 6).alias("tfidf"),
        )
    )


@query(
    "kmeans_lloyd",
    """
    WITH x AS (SELECT vec_id,
                      list_transform(embedding, v -> CAST(v AS DOUBLE)) AS v
               FROM embeddings),
         c0 AS (SELECT vec_id AS cid, v AS c FROM x WHERE vec_id < 8),
         d1 AS (SELECT x.vec_id, c0.cid,
                       list_reduce(list_prepend(CAST(0 AS DOUBLE),
                         list_transform(range(1, 65),
                           i -> (x.v[i] - c0.c[i]) * (x.v[i] - c0.c[i]))),
                         (a, b) -> a + b) AS d
                FROM x CROSS JOIN c0),
         a1 AS (SELECT vec_id, cid FROM
                  (SELECT vec_id, cid,
                          row_number() OVER (PARTITION BY vec_id
                                             ORDER BY d, cid) AS rk
                   FROM d1) WHERE rk = 1),
         u AS (SELECT a1.cid, p.pos,
                      CAST(sum(CAST(x.v[p.pos] AS DECIMAL(38,12))) AS DOUBLE)
                        / count(*) AS c
               FROM a1 JOIN x USING (vec_id)
                    CROSS JOIN (SELECT unnest(range(1, 65)) AS pos) p
               GROUP BY a1.cid, p.pos),
         c1 AS (SELECT cid, list(c ORDER BY pos) AS c FROM u GROUP BY cid),
         d2 AS (SELECT x.vec_id, c1.cid,
                       list_reduce(list_prepend(CAST(0 AS DOUBLE),
                         list_transform(range(1, 65),
                           i -> (x.v[i] - c1.c[i]) * (x.v[i] - c1.c[i]))),
                         (a, b) -> a + b) AS d
                FROM x CROSS JOIN c1),
         a2 AS (SELECT vec_id, cid FROM
                  (SELECT vec_id, cid,
                          row_number() OVER (PARTITION BY vec_id
                                             ORDER BY d, cid) AS rk
                   FROM d2) WHERE rk = 1)
    SELECT cid AS cluster_id, count(*) AS n_vecs,
           CAST(min(vec_id) AS BIGINT) AS min_vec
    FROM a2 GROUP BY cid
    """,
)
def kmeans_lloyd(spark: SparkSession, sf_dir: str) -> SDF:
    """Lloyd k-means (k=8, two assignment passes over the embeddings, one
    centroid update) — the iterative-algorithm template beyond connected
    components.  The scale shape: centroids are O(k·d) and ride in a
    BROADCAST 1-row array, so each assignment pass is a map-only stage
    (argmin folded in-row over the centroid array — no k-way row
    explosion, no shuffle, no driver collect); the only shuffle per
    iteration is the (cid, dim) centroid update, DECIMAL(38,12)-folded
    like emb_centroid so the new centroids are bit-identical on both
    engines.  Distances are sequential in-row folds (deterministic IEEE),
    ties broken by lowest centroid id via strict-< over the cid-sorted
    array.  Seeds = the 8 lowest vec_ids."""
    emb = D.spread(load_table(spark, sf_dir, "embeddings"))
    x = emb.select("vec_id", F.col("embedding").cast("array<double>").alias("v"))

    def pack(cdf: SDF) -> SDF:
        """k (cid, centroid) rows → ONE row holding the cid-sorted array."""
        return cdf.agg(
            F.sort_array(
                F.collect_list(F.struct(F.col("cid"), F.col("c")))
            ).alias("cents")
        )

    def assign(pts: SDF, cents_one_row: SDF) -> SDF:
        """Map-only nearest-centroid: fold over the broadcast array."""
        j = pts.crossJoin(F.broadcast(cents_one_row))
        dist = lambda ct: F.aggregate(  # noqa: E731
            F.zip_with(F.col("v"), ct["c"], lambda a, b: (a - b) * (a - b)),
            F.lit(0.0),
            lambda acc, e: acc + e,
        )
        # array_min over (d, cid) structs: ONE distance fold per centroid
        # (the aggregate/when form evaluated dist(ct) twice — condition
        # and result); lexicographic struct compare = min distance with
        # lowest-cid tie-break, identical to the documented strict-< rule
        best = F.array_min(
            F.transform(
                F.col("cents"),
                lambda ct: F.struct(dist(ct).alias("d"), ct["cid"].alias("cid")),
            )
        )
        return j.select("vec_id", "v", best["cid"].alias("cid"))

    def update(assigned: SDF) -> SDF:
        """(cid, dim)-grouped DECIMAL-folded mean → k centroid rows."""
        u = assigned.select(
            "cid", F.posexplode("v").alias("pos", "val")
        ).groupBy("cid", "pos").agg(
            (
                F.sum(F.col("val").cast("decimal(38,12)")).cast("double")
                / F.count(F.lit(1))
            ).alias("c")
        )
        return u.groupBy("cid").agg(
            F.transform(
                F.sort_array(F.collect_list(F.struct("pos", "c"))),
                lambda s: s["c"],
            ).alias("c")
        )

    c0 = pack(
        x.where(F.col("vec_id") < 8).select(
            F.col("vec_id").alias("cid"), F.col("v").alias("c")
        )
    )
    a1 = assign(x, c0)
    c1 = pack(update(a1))
    a2 = assign(x, c1)
    return a2.groupBy(F.col("cid").alias("cluster_id")).agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.min("vec_id").cast("long").alias("min_vec"),
    )


# ---------------------------------------------------------------------------
# lakehouse maintenance: small-file compaction, sorted-write data skipping
# ---------------------------------------------------------------------------


def _maint_dir(sf_dir: str, name: str) -> str:
    from ..sources.tables import TABLE_NAMES, store_path

    # keyed on the full source footprint: regenerated testdata must never
    # be served a maintenance copy built from the previous generation
    return store_path(sf_dir, name, TABLE_NAMES)


@query(
    "compact_small_files",
    """
    SELECT event_type, count(*) AS n_events,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
    FROM events GROUP BY event_type
    """,
)
def compact_small_files(spark: SparkSession, sf_dir: str) -> SDF:
    """The small-files maintenance pass: a fragmented table (staged here
    as 64 tiny parquet files, the classic streaming-ingest residue) is
    rewritten to ceil(bytes / 128 MB) right-sized files, then served to
    readers.  Compaction uses coalesce() — a NARROW rewrite, no shuffle:
    each output task concatenates input splits, which is exactly how
    OPTIMIZE bin-packing behaves when no clustering key is requested.
    The returned aggregate runs against the COMPACTED copy and must equal
    the oracle on the original — compaction is proven content-preserving,
    not just smaller.  At 100 TB the same job sizes output partitions off
    `spark.sql.files.maxPartitionBytes` and runs per table-partition."""
    import math
    import os
    import shutil

    from ..sources.tables import write_once_parquet

    compact = _maint_dir(sf_dir, "compact")
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type"
    )
    frag = write_once_parquet(ev, _maint_dir(sf_dir, "frag"), n_files=64)
    shutil.rmtree(compact, ignore_errors=True)
    small = read_parquet(spark, frag)
    n_bytes = sum(
        f.stat().st_size for f in os.scandir(frag) if f.name.endswith(".parquet")
    )
    target = max(1, math.ceil(n_bytes / (128 * 1024 * 1024)))
    small.coalesce(target).write.mode("overwrite").parquet(compact)
    back = read_parquet(spark, compact)
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("user_id").cast("long").alias("n_users"),
    )


@query(
    "sink_sorted_skipping",
    """
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS sum_qty
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-06-01'
      AND l_shipdate < TIMESTAMP '1997-07-01'
    """,
)
def sink_sorted_skipping(spark: SparkSession, sf_dir: str) -> SDF:
    """Sorted-write data skipping: lineitem is rewritten range-partitioned
    AND sorted by l_shipdate (repartitionByRange + sortWithinPartitions),
    so every file covers a tight, disjoint shipdate interval and its
    parquet row-group min/max stats let a date-filtered scan skip almost
    every file — the open-format stand-in for Z-ordering on a single key.
    The returned month aggregate reads the SORTED copy with the filter
    pushed to the scan (PushedFilters asserts in tests/test_plans.py);
    the oracle computes the same month over the original table, proving
    the rewrite preserved content.  At 100 TB this layout turns a
    full-table scan per time-slice query into reading ~1/240th of the
    files."""
    from ..sources.tables import publish_store

    def write(tmp: str) -> None:
        lin = load_table(spark, sf_dir, "lineitem").select(
            "l_shipdate", "l_quantity"
        )
        (
            lin.repartitionByRange(8, "l_shipdate")
            .sortWithinPartitions("l_shipdate")
            .write.mode("overwrite")
            .parquet(tmp)
        )

    out = publish_store(_maint_dir(sf_dir, "sorted"), write)
    back = read_parquet(spark, out).where(
        (F.col("l_shipdate") >= F.lit("1997-06-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-07-01").cast("timestamp"))
    )
    return back.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("l_quantity").cast(_DEC)).cast("double").alias("sum_qty"),
    )


@query(
    "dedup_fuzzy_edit",
    """
    WITH t AS (SELECT doc_id, substr(text, 1, 24) AS ttl FROM documents)
    SELECT a.doc_id AS a, b.doc_id AS b,
           CAST(levenshtein(a.ttl, b.ttl) AS BIGINT) AS dist
    FROM t a JOIN t b
      ON substr(a.ttl, 1, 4) = substr(b.ttl, 1, 4) AND a.doc_id < b.doc_id
    WHERE levenshtein(a.ttl, b.ttl) <= 6
    """,
)
def dedup_fuzzy_edit(spark: SparkSession, sf_dir: str) -> SDF:
    """Fuzzy-match dedup by edit distance — the record-linkage member of
    the dedup family (exact / minhash / simhash / ngram / embedding /
    edit-distance): near-identical 24-char title prefixes within 6 edits.
    Candidates come from an EQUI-join on a 4-char prefix block — the
    O(n²) levenshtein only runs inside blocks, never all-pairs, and the
    strings are clamped to 24 chars so each comparison is O(24²) bounded.
    Blocking on a raw prefix is the demo stand-in; at 100 TB the same
    shape runs with length + q-gram blocking keys (several blocking
    passes unioned), which keeps recall without widening any block."""
    docs = D.spread(load_table(spark, sf_dir, "documents"))
    t = docs.select("doc_id", F.substring("text", 1, 24).alias("ttl"))
    a = t.select(
        F.col("doc_id").alias("a"),
        F.col("ttl").alias("ttl_a"),
        F.substring("ttl", 1, 4).alias("blk"),
    )
    b = t.select(
        F.col("doc_id").alias("b"),
        F.col("ttl").alias("ttl_b"),
        F.substring("ttl", 1, 4).alias("blk"),
    )
    return (
        a.join(b, "blk")
        .where(F.col("a") < F.col("b"))
        .select(
            "a", "b", F.levenshtein("ttl_a", "ttl_b").cast("long").alias("dist")
        )
        .where(F.col("dist") <= 6)
    )


@query(
    "observe_metrics",
    """
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CASE WHEN n_chars >= 200 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_long,
           CAST(sum(n_chars) AS BIGINT) AS total_chars
    FROM documents
    """,
)
def observe_metrics(spark: SparkSession, sf_dir: str) -> SDF:
    """Single-pass pipeline health metrics via ``df.observe`` — counters
    ride the SAME job that materializes the data (here a noop sink
    standing in for the real write), so a 100 TB cleaning run gets its
    row/volume accounting for free instead of paying a second full scan.
    The observed values are exact integer aggregates, returned as a
    1-row frame the oracle recomputes relationally; metrics transfer is
    O(metrics), driver-side by design (like any accumulator)."""
    from pyspark.sql import Observation

    docs = load_table(spark, sf_dir, "documents")
    obs = Observation("corpus_health")
    observed = docs.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum((F.col("n_chars") >= 200).cast("long")).alias("n_long"),
        F.sum("n_chars").cast("long").alias("total_chars"),
    )
    observed.write.format("noop").mode("overwrite").save()
    m = obs.get
    return spark.createDataFrame(
        [(m["n_rows"], m["n_long"], m["total_chars"])],
        "n_rows long, n_long long, total_chars long",
    )


# ---------------------------------------------------------------------------
# stream-static enrichment, data-quality constraints, schema evolution
# ---------------------------------------------------------------------------


@query(
    "stream_static_join",
    """
    SELECT c.c_nationkey AS nation, count(*) AS n_events,
           CAST(count(DISTINCT e.user_id) AS BIGINT) AS n_users
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY c.c_nationkey
    """,
)
def stream_static_join(spark: SparkSession, sf_dir: str) -> SDF:
    """Stream-static enrichment join — the OTHER streaming join shape
    (stream_stream_join covers stream×stream): each micro-batch of events
    joins a STATIC dimension (customer) to attach nationkey, then feeds a
    running per-nation aggregate.  The static side needs no watermark and
    holds no join state — Spark re-plans it per micro-batch, broadcasting
    the dim; state exists only for the aggregation keys.  That asymmetry
    (stateless enrich, stateful agg) is the standard Kafka-enrichment
    topology.  Deterministic: one AvailableNow batch over the staged file
    → final counts equal the batch join the oracle runs."""
    from ..streaming.windows import run_to_memory, stream_events

    ev = stream_events(spark, sf_dir).select("user_id")
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    enriched = ev.join(F.broadcast(cust), ev.user_id == cust.c_custkey)
    agg = enriched.groupBy(F.col("c_nationkey").alias("nation")).agg(
        F.count(F.lit(1)).alias("n_events"),
    )
    out = run_to_memory(agg, "complete")
    # exact per-nation user counts aren't streamable (countDistinct is
    # unsupported in streaming aggs; the production path is an HLL sketch
    # merged downstream) — the check-side exact values join from batch
    exact = (
        load_table(spark, sf_dir, "events")
        .join(F.broadcast(cust), F.col("user_id") == F.col("c_custkey"))
        .groupBy(F.col("c_nationkey").alias("nation"))
        .agg(F.countDistinct("user_id").cast("long").alias("n_users"))
    )
    return out.select("nation", "n_events").join(exact, "nation")


@query(
    "dq_constraints",
    """
    SELECT 'orders' AS tbl,
           CAST(count(*) AS BIGINT) AS n_rows,
           count(*) = count(DISTINCT o_orderkey) AS pk_unique,
           CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_null_cust,
           min(o_totalprice) >= 0 AS price_nonneg,
           CAST(sum(CASE WHEN o_orderpriority IN
                    ('1-URGENT','2-HIGH','3-MEDIUM','4-NOT SPECIFIED','5-LOW')
                    THEN 0 ELSE 1 END) AS BIGINT) AS n_bad_priority
    FROM orders
    """,
)
def dq_constraints(spark: SparkSession, sf_dir: str) -> SDF:
    """Deequ-style data-quality constraint suite evaluated in ONE pass:
    primary-key uniqueness, null counts, range and domain checks all fold
    into a single aggregate over one table scan — the profile-then-gate
    step that fronts every production ingest.  Only the uniqueness check
    shuffles (distinct count rides the same aggregate); everything else
    is a map-side CASE.  Emits measured values alongside booleans so a
    failing gate reports WHAT it saw, not just that it failed."""
    orders = load_table(spark, sf_dir, "orders")
    good = F.col("o_orderpriority").isin(
        "1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"
    )
    return orders.agg(
        F.lit("orders").alias("tbl"),
        F.count(F.lit(1)).alias("n_rows"),
        (F.count(F.lit(1)) == F.countDistinct("o_orderkey")).alias("pk_unique"),
        F.sum(F.col("o_custkey").isNull().cast("long")).alias("n_null_cust"),
        (F.min("o_totalprice") >= 0).alias("price_nonneg"),
        F.sum((~good).cast("long")).alias("n_bad_priority"),
    )


@query(
    "schema_evolution_merge",
    """
    WITH v1 AS (SELECT n_nationkey, n_name FROM nation WHERE n_regionkey = 0),
         v2 AS (SELECT n_nationkey, n_name, n_regionkey FROM nation
                WHERE n_regionkey <> 0)
    SELECT n_nationkey, n_name,
           CAST(r AS BIGINT) AS n_regionkey
    FROM (SELECT n_nationkey, n_name, NULL AS r FROM v1
          UNION ALL
          SELECT n_nationkey, n_name, n_regionkey AS r FROM v2)
    """,
)
def schema_evolution_merge(spark: SparkSession, sf_dir: str) -> SDF:
    """Schema evolution at the scan: two parquet generations of one table
    (v1 lacks the later n_regionkey column) read together with
    ``mergeSchema`` — old files surface the missing column as NULL, the
    standard additive-column drift story for long-lived ingest
    directories.  mergeSchema pays a footer read per file at planning
    (fine for a demo; at 100 TB you pin the latest schema explicitly and
    get the same null-fill without the footer sweep — the read semantics
    this query locks in are identical either way)."""
    from ..sources.tables import publish_store

    nation = load_table(spark, sf_dir, "nation")

    def write(tmp: str) -> None:
        nation.where(F.col("n_regionkey") == 0).select(
            "n_nationkey", "n_name"
        ).write.mode("overwrite").parquet(tmp + "/gen=1")
        nation.where(F.col("n_regionkey") != 0).select(
            "n_nationkey", "n_name", "n_regionkey"
        ).write.mode("overwrite").parquet(tmp + "/gen=2")

    out = publish_store(_maint_dir(sf_dir, "evolve"), write)
    back = spark.read.option("mergeSchema", True).parquet(
        out + "/gen=1", out + "/gen=2"
    )
    return back.select(
        "n_nationkey", "n_name", F.col("n_regionkey").cast("long")
    )


@query(
    "udtf_sentence_split",
    """
    WITH t AS (SELECT doc_id, string_split(text, '. ') AS ss FROM documents),
         i AS (SELECT doc_id, ss, unnest(range(1, len(ss) + 1)) AS i FROM t)
    SELECT doc_id, CAST(i - 1 AS BIGINT) AS sent_idx,
           CAST(length(ss[i]) AS BIGINT) AS sent_chars
    FROM i
    """,
)
def udtf_sentence_split(spark: SparkSession, sf_dir: str) -> SDF:
    """Python UDTF (table function) splitting documents into indexed
    sentence segments via LATERAL — the row-GENERATING custom-operator
    API (the set-returning sibling of grouped_map_pandas /
    cogrouped_asof_pandas).  Arrow-optimized UDTF evaluation is enabled;
    still, per-row Python is the slow path — the JVM twin of this exact
    shape is text_chunk_windows (explode over split()), which is what a
    hot path should use.  Registered for API-surface completeness with
    bounded output width (segments of one document)."""
    from pyspark.sql.functions import udtf

    spark.conf.set("spark.sql.execution.pythonUDTF.arrow.enabled", "true")

    @udtf(returnType="sent_idx: long, sent_chars: long")
    class SplitSents:
        def eval(self, text: str):
            for i, s in enumerate(text.split(". ")):
                yield i, len(s)

    spark.udtf.register("split_sents", SplitSents)
    docs = load_table(spark, sf_dir, "documents")
    docs.select("doc_id", "text").createOrReplaceTempView("udtf_docs_v")
    return spark.sql(
        """
        SELECT d.doc_id, s.sent_idx, s.sent_chars
        FROM udtf_docs_v d, LATERAL split_sents(d.text) s
        """
    )


@query(
    "agg_hll_rollup",
    """
    SELECT event_type,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact,
           TRUE AS within_2pct
    FROM events GROUP BY event_type
    """,
)
def agg_hll_rollup(spark: SparkSession, sf_dir: str) -> SDF:
    """Mergeable HLL sketch rollup (Spark 4 `hll_sketch_agg` /
    `hll_union_agg`, Apache DataSketches): per-(day, event_type) user
    sketches are built in one pass, then UNIONED up to event_type —
    re-aggregation without touching raw data.  This is THE 100 TB
    distinct-count pattern: daily sketch partials are tiny (2^14 buckets
    ≈ 16 KB), persistable, and any rollup (weekly, per-type, global) is
    a sketch merge instead of a rescan; exact countDistinct would
    re-shuffle every raw (key, user) pair per rollup level.  DuckDB has
    no compatible HLL, so the contract is a property oracle: the emitted
    estimate must land within 2% of the exact count (exact side fully
    SQL-mirrored; `within_2pct` must be TRUE row-for-row)."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.to_date("ts").alias("day"), "event_type"
    ).agg(F.expr("hll_sketch_agg(user_id, 14)").alias("sk"))
    rolled = daily.groupBy("event_type").agg(
        F.expr("hll_sketch_estimate(hll_union_agg(sk))").alias("est")
    )
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_exact")
    )
    return exact.join(rolled, "event_type").select(
        "event_type",
        "n_exact",
        (F.abs(F.col("est") - F.col("n_exact"))
         <= 0.02 * F.col("n_exact")).alias("within_2pct"),
    )


@query(
    "json_variant_extract",
    """
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT)
             AS sum_k
    FROM events
    WHERE CAST(json_extract(props, '$.k') AS BIGINT) >= 50
    GROUP BY event_type
    """,
)
def json_variant_extract(spark: SparkSession, sf_dir: str) -> SDF:
    """Semi-structured JSON via the Spark 4 VARIANT type: `parse_json`
    once into a binary variant, then typed `variant_get` paths — the
    engine shreds the document instead of re-parsing strings per field
    (vs `get_json_object`, which re-parses the full JSON for every
    extraction).  At 100 TB a props column parsed once and pruned to the
    single accessed path is the difference between a CPU-bound scan and
    an IO-bound one.  Filter and aggregate both run on the extracted
    long, JVM-side."""
    ev = load_table(spark, sf_dir, "events")
    k = F.expr("variant_get(parse_json(props), '$.k', 'long')")
    return (
        ev.select("event_type", k.alias("k"))
        .where(F.col("k") >= 50)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("k").alias("sum_k"),
        )
    )


@query(
    "sink_zorder",
    """
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE)
             AS sum_price
    FROM orders
    WHERE o_custkey BETWEEN 40 AND 119
      AND o_orderdate >= TIMESTAMP '1995-01-01'
      AND o_orderdate <  TIMESTAMP '1996-01-01'
    """,
)
def sink_zorder(spark: SparkSession, sf_dir: str) -> SDF:
    """Z-order (Morton-interleaved) multi-dimension data layout: orders
    is rewritten range-partitioned + sorted by the bit-interleave of
    (o_custkey, epoch-day(o_orderdate)), so parquet row-group min/max
    stats stay tight on BOTH dimensions at once — a 2-d filter skips
    most files, where a single-key sort (sink_sorted_skipping) helps
    only its own key.  The interleave is pure JVM bit arithmetic
    (shiftleft/or chains, the classic magic-number bit spread), no UDF.
    The read-back aggregate runs with both predicates pushed to the
    scan; the oracle computes the same filter on the ORIGINAL table,
    proving the rewrite preserved content.  This is what Delta/Iceberg
    `OPTIMIZE ZORDER BY` does, expressed with open Spark primitives."""
    from ..sources.tables import publish_store

    def write(tmp: str) -> None:
        orders = load_table(spark, sf_dir, "orders").select(
            "o_custkey", "o_orderdate", "o_totalprice"
        )
        # 16-bit inputs → 32-bit Morton code.  _spread16(x) inserts a 0
        # bit between each of the low 16 bits of x (x86 PDEP equivalent,
        # built from shift/mask so it stays in whole-stage codegen).
        def _spread16(col):
            x = col.bitwiseAND(F.lit(0xFFFF))
            x = x.bitwiseOR(F.shiftleft(x, 8)).bitwiseAND(F.lit(0x00FF00FF))
            x = x.bitwiseOR(F.shiftleft(x, 4)).bitwiseAND(F.lit(0x0F0F0F0F))
            x = x.bitwiseOR(F.shiftleft(x, 2)).bitwiseAND(F.lit(0x33333333))
            x = x.bitwiseOR(F.shiftleft(x, 1)).bitwiseAND(F.lit(0x55555555))
            return x

        day = F.datediff(F.col("o_orderdate"), F.lit("1992-01-01"))
        z = _spread16(F.col("o_custkey")).bitwiseOR(
            F.shiftleft(_spread16(day), 1)
        )
        (
            orders.withColumn("zval", z)
            .repartitionByRange(8, "zval")
            .sortWithinPartitions("zval")
            .drop("zval")
            .write.mode("overwrite")
            .parquet(tmp)
        )

    out = publish_store(_maint_dir(sf_dir, "zorder"), write)
    back = read_parquet(spark, out).where(
        F.col("o_custkey").between(40, 119)
        & (F.col("o_orderdate") >= F.lit("1995-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-01-01").cast("timestamp"))
    )
    return back.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("o_totalprice").cast(_DEC)).cast("double").alias("sum_price"),
    )


@query(
    "mapinarrow_token_stats",
    """
    SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_ws_tokens,
           CAST(length(text) AS BIGINT) AS n_chars
    FROM documents
    """,
)
def mapinarrow_token_stats(spark: SparkSession, sf_dir: str) -> SDF:
    """`mapInArrow` custom batch operator: the lowest-overhead Python
    boundary — raw Arrow RecordBatches in and out with NO pandas
    conversion, columns processed by pyarrow.compute kernels (C++
    vectorized, zero-copy).  The right API tier for byte-level /
    columnar work (tokenizer shims, codec probes) where even the
    pandas_udf Series round-trip is wasted motion.  Per-batch output
    row-count equals input here, but the API allows re-batching —
    unlike pandas_udf, which is 1:1 per batch.  The JVM twin
    (`split` + `size`) remains the hot path for THIS trivial kernel;
    registered to pin the API surface and its exact-arity semantics
    (split on single space keeps empty segments — mirrored by DuckDB's
    string_split)."""
    import pyarrow as pa
    import pyarrow.compute as pc
    from typing import Iterator

    def stats(batches: "Iterator[pa.RecordBatch]") -> "Iterator[pa.RecordBatch]":
        for b in batches:
            text = b.column(1)
            toks = pc.split_pattern(text, " ")
            yield pa.RecordBatch.from_arrays(
                [
                    b.column(0),
                    pc.cast(pc.list_value_length(toks), pa.int64()),
                    pc.cast(pc.utf8_length(text), pa.int64()),
                ],
                ["doc_id", "n_ws_tokens", "n_chars"],
            )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return docs.mapInArrow(
        stats, "doc_id long, n_ws_tokens long, n_chars long"
    )


@query(
    "dedup_incremental",
    f"""
    WITH f AS (
      SELECT doc_id, n_chars, doc_id % 5 = 0 AS is_batch,
             list_reduce(list_prepend(CAST(0 AS BIGINT),
                 list_transform(range(1, length(text) + 1),
                     i -> CAST(ascii(substr(text, i, 1)) AS BIGINT))),
                 (a, x) -> (a * 31 + x) % 1000000007) AS fp,
             list_distinct(list_transform(range(1, len(toks)),
                           i -> toks[i] || ' ' || toks[i+1])) AS sh
      FROM (SELECT doc_id, n_chars, text, {_TOKS} AS toks FROM documents)
    ),
    exact_hit AS (
      SELECT DISTINCT b.doc_id FROM f b JOIN f c
        ON b.is_batch AND NOT c.is_batch AND b.fp = c.fp),
    near_hit AS (
      SELECT DISTINCT b.doc_id FROM f b JOIN f c
        ON b.is_batch AND NOT c.is_batch
       AND abs(b.n_chars - c.n_chars) <= 4
       AND len(b.sh) > 0 AND len(c.sh) > 0
      WHERE CAST(len(list_intersect(b.sh, c.sh)) AS DOUBLE)
             / (len(b.sh) + len(c.sh) - len(list_intersect(b.sh, c.sh))) >= 0.5)
    SELECT doc_id, n_chars FROM f
    WHERE is_batch
      AND doc_id NOT IN (SELECT doc_id FROM exact_hit)
      AND doc_id NOT IN (SELECT doc_id FROM near_hit)
    """,
)
def dedup_incremental(spark: SparkSession, sf_dir: str) -> SDF:
    """Incremental ingestion dedup — the shape every production corpus
    update runs: an incoming BATCH (here doc_id % 5 = 0, ~20%) is
    checked against the EXISTING corpus, never corpus-vs-corpus.  Two
    gates: (1) exact — anti-join on the 8-byte content fingerprint, the
    shuffle carries hashes, not documents; (2) near — blocked exact
    Jaccard (length bucket ±1) with the BATCH side broadcast: the batch
    is orders of magnitude smaller than the corpus, so the corpus
    streams map-side with zero shuffle.  At 100 TB the corpus side would
    read a persisted fingerprint/shingle index instead of recomputing —
    the join topology is identical.  Returns the surviving batch docs."""
    docs = load_table(spark, sf_dir, "documents")
    tk = docs.select(
        "doc_id",
        "n_chars",
        (F.col("doc_id") % 5 == 0).alias("is_batch"),
        TX.char_fingerprint(F.col("text")).alias("fp"),
        TX.tokens(F.col("text")).alias("toks"),
    )
    # Hashed 2-gram shingles (round 15): the string-shingle form carried
    # ~60 concat-allocated strings per doc through the eager checkpoint
    # AND through every array_intersect pair probe; 8-byte gram
    # fingerprints shrink the barrier, the batch-side broadcast and the
    # per-pair intersect (token_hash_shingles' collision argument —
    # gram-hash equality ≡ gram equality up to ~2^-64 per co-bucketed
    # pair — so set sizes, intersections and the Jaccard gate are
    # unchanged).  Same discipline as text_boilerplate_ngram/
    # dedup_containment.
    base = D.spread(tk).select(
        "doc_id",
        "n_chars",
        "is_batch",
        "fp",
        D.token_hash_shingles(
            F.transform(F.col("toks"), lambda t: F.xxhash64(t)), 2
        ).alias("sh"),
    ).localCheckpoint(eager=True)
    batch = base.where(F.col("is_batch"))
    corpus = base.where(~F.col("is_batch"))

    exact_hit = batch.select("doc_id", "fp").join(
        corpus.select("fp").distinct(), "fp", "left_semi"
    ).select("doc_id")

    bucket = F.floor(F.col("n_chars") / 5)
    b_side = batch.select(
        F.col("doc_id").alias("b_id"),
        F.col("n_chars").alias("nc_b"),
        F.col("sh").alias("sh_b"),
        F.explode(F.array(bucket - 1, bucket, bucket + 1)).alias("jb"),
    ).where(F.size("sh_b") > 0)
    c_side = corpus.select(
        F.col("n_chars").alias("nc_c"),
        F.col("sh").alias("sh_c"),
        bucket.alias("jb"),
    ).where(F.size("sh_c") > 0)
    cand = F.broadcast(b_side).join(c_side, "jb").where(
        F.abs(F.col("nc_b") - F.col("nc_c")) <= 4
    )
    # jac >= 0.5 as the exact INTEGER gate 3*|inter| >= |a|+|b| (the
    # band-calibration rewrite): |union| = |a|+|b|-|inter| > 0 on this
    # branch, the quotient is never emitted, and the integer compare
    # skips the double divide per pair.
    inter = F.size(F.array_intersect("sh_b", "sh_c"))
    near_hit = (
        cand.where(3 * inter >= F.size("sh_b") + F.size("sh_c"))
        .select(F.col("b_id").alias("doc_id"))
        .distinct()
    )
    return (
        batch.join(exact_hit, "doc_id", "left_anti")
        .join(near_hit, "doc_id", "left_anti")
        .select("doc_id", "n_chars")
    )


@query(
    "stream_stream_left_outer",
    """
    WITH v AS (SELECT user_id, ts AS view_ts FROM events WHERE event_type = 'view'),
         p AS (SELECT user_id, ts AS buy_ts, round(CAST(value AS DOUBLE), 4) AS value
               FROM events WHERE event_type = 'purchase')
    SELECT p.user_id, p.buy_ts, p.value, v.view_ts
    FROM p JOIN v
      ON p.user_id = v.user_id
     AND v.view_ts BETWEEN p.buy_ts - INTERVAL 1 HOUR AND p.buy_ts
    UNION ALL
    SELECT p.user_id, p.buy_ts, p.value, NULL
    FROM p
    WHERE NOT EXISTS (
            SELECT 1 FROM v
            WHERE v.user_id = p.user_id
              AND v.view_ts BETWEEN p.buy_ts - INTERVAL 1 HOUR AND p.buy_ts)
      AND p.buy_ts < (SELECT least((SELECT max(ts) FROM events WHERE event_type = 'view'),
                                   (SELECT max(ts) FROM events WHERE event_type = 'purchase'))
                             - INTERVAL 1 HOUR)
    """,
)
def stream_stream_left_outer(spark: SparkSession, sf_dir: str) -> SDF:
    """Watermarked stream-stream LEFT OUTER join: like stream_stream_join
    but unmatched purchases are emitted with a null view_ts — only once
    the watermark proves no qualifying view can still arrive (state
    eviction), which is the part inner joins never exercise.  The global
    watermark is the MIN across the two watermark operators — each side
    advances from the max event time IT has seen (verified here: the
    gate lands at max(view_ts) - 1h, not max(all ts) - 1h) — so the
    emitted outer rows are exactly the unmatched purchases older than
    that, which the oracle mirrors as a watermark-gated NOT EXISTS.
    Purchases younger than the final watermark stay in state, exactly
    as an unbounded run would hold them."""
    from ..streaming.windows import run_to_memory, stream_events

    ev = stream_events(spark, sf_dir)
    views = (
        ev.where(F.col("event_type") == "view")
        .select(F.col("user_id").alias("v_user_id"), F.col("ts").alias("view_ts"))
        .withWatermark("view_ts", "1 hour")
    )
    buys = (
        ev.where(F.col("event_type") == "purchase")
        .select(
            F.col("user_id"),
            F.col("ts").alias("buy_ts"),
            F.round(F.col("value"), 4).alias("value"),
        )
        .withWatermark("buy_ts", "1 hour")
    )
    joined = buys.join(
        views,
        (F.col("user_id") == F.col("v_user_id"))
        & (F.col("view_ts") >= F.col("buy_ts") - F.expr("INTERVAL 1 HOUR"))
        & (F.col("view_ts") <= F.col("buy_ts")),
        "left_outer",
    )
    out = run_to_memory(joined, "append")
    return out.select("user_id", "buy_ts", "value", "view_ts")


# ---------------------------------------------------------------------------
# round-4 additions: char-entropy quality signal + embedding outlier scoring
# ---------------------------------------------------------------------------


@query(
    "text_char_entropy",
    """
    WITH ch AS (SELECT doc_id, source,
                       unnest(list_transform(range(1, length(text) + 1),
                                             i -> substr(text, i, 1))) AS c
                FROM documents),
    g AS (SELECT doc_id, source, c, count(*) AS n FROM ch GROUP BY ALL),
    d AS (SELECT doc_id, source,
                 round(log2(CAST(sum(n) AS DOUBLE))
                       - CAST(sum(CAST(round(CAST(n AS DOUBLE)
                               * log2(CAST(n AS DOUBLE)), 4)
                               AS DECIMAL(38,6))) AS DOUBLE)
                         / CAST(sum(n) AS DOUBLE), 4) AS ent
          FROM g GROUP BY doc_id, source)
    SELECT source, count(*) AS n_docs,
           round(CAST(sum(CAST(ent AS DECIMAL(38,6))) AS DOUBLE)
                 / count(*), 4) AS avg_entropy,
           CAST(sum(CASE WHEN ent < 4.0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_low_entropy
    FROM d GROUP BY source
    """,
)
def text_char_entropy(spark: SparkSession, sf_dir: str) -> SDF:
    """Per-document character-distribution Shannon entropy, rolled up per
    source — the classic cheap "is this natural text or keyboard mash /
    binary junk" quality gate an LLM ingest pipeline runs before any
    model-based scoring.

    Computed entirely IN-ROW: sort the char array once, run-length scan
    it with one ``aggregate`` fold (same idiom as text_rep_bigram), emit
    -Σ c·log2(c) alongside n — zero shuffle before the per-source
    rollup, embarrassingly parallel at 100 TB.  Cross-engine float
    discipline: each run's c·log2(c) term is rounded to 4 decimals and
    accumulated in DECIMAL(38,6) (order-free, and immune to the
    last-ulp differences between JVM and libm log2); the oracle mirrors
    with per-char-group counts — run lengths of the sorted array ARE the
    per-char counts, so both engines fold the identical term set."""
    docs = D.spread(load_table(spark, sf_dir, "documents").select("source", "text"))
    sc = F.array_sort(F.split(F.col("text"), ""))
    zero = F.lit(0).cast("long")
    dzero = F.lit(0).cast("decimal(38,6)")
    term = lambda run: (  # noqa: E731
        F.when(
            run > 0,
            F.round(run.cast("double") * F.log2(run.cast("double")), 4).cast(
                "decimal(38,6)"
            ),
        ).otherwise(dzero)
    )
    new_run = lambda acc, x: (  # noqa: E731
        F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1).cast("long"))
    )
    s = F.aggregate(
        sc,
        F.struct(F.lit("").alias("prev"), zero.alias("run"), dzero.alias("s")),
        lambda acc, x: F.struct(
            x.alias("prev"),
            new_run(acc, x).alias("run"),
            F.when(x == acc["prev"], acc["s"])
            .otherwise(acc["s"] + term(acc["run"]))
            .alias("s"),
        ),
        lambda acc: acc["s"] + term(acc["run"]),
    )
    n = F.size(sc).cast("double")
    ent = F.round(F.log2(n) - s.cast("double") / n, 4)
    d = docs.where(F.length("text") > 0).select("source", ent.alias("ent"))
    return d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(
            F.sum(F.col("ent").cast("decimal(38,6)")).cast("double")
            / F.count(F.lit(1)),
            4,
        ).alias("avg_entropy"),
        F.sum((F.col("ent") < 4.0).cast("long")).alias("n_low_entropy"),
    )


@query(
    "emb_outlier_centroid",
    """
    WITH e AS (SELECT vec_id, label, unnest(embedding) AS x,
                      unnest(range(1, len(embedding) + 1)) AS pos
               FROM embeddings),
    cent AS (SELECT label, pos,
                    round(CAST(sum(CAST(CAST(x AS DOUBLE) AS DECIMAL(38,12)))
                          AS DOUBLE) / count(*), 6) AS m
             FROM e GROUP BY label, pos),
    d AS (SELECT e.vec_id, e.label,
                 round(sqrt(CAST(sum(CAST(
                       (CAST(e.x AS DOUBLE) - c.m) * (CAST(e.x AS DOUBLE) - c.m)
                       AS DECIMAL(38,12))) AS DOUBLE)), 6) AS dist
          FROM e JOIN cent c ON e.label = c.label AND e.pos = c.pos
          GROUP BY e.vec_id, e.label)
    SELECT CAST(label AS BIGINT) AS label, count(*) AS n_vecs,
           round(CAST(sum(CAST(dist AS DECIMAL(38,6))) AS DOUBLE)
                 / count(*), 6) AS avg_dist,
           round(max(dist), 6) AS max_dist,
           CAST(sum(CASE WHEN dist > 1.01 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_outliers
    FROM d GROUP BY label
    """,
)
def emb_outlier_centroid(spark: SparkSession, sf_dir: str) -> SDF:
    """Embedding-space outlier scoring: L2 distance of every vector to its
    label's centroid, rolled up per label — the filter that drops
    mislabeled / degenerate embeddings before they poison contrastive
    or clustering stages of a training pipeline.

    Scale shape: centroids are a per-(label, pos) DECIMAL-folded mean
    (one shuffle of partial sums, same as emb_centroid), collected to a
    LABELS-sized table that is BROADCAST back onto the vector scan — the
    distance pass is map-side, one ``zip_with`` fold per vector, and the
    final per-label rollup shuffles only (label, dist) pairs.  Float
    discipline: centroids are rounded to 6 decimals (identical across
    engines after the exact DECIMAL mean), per-dimension squared
    deviations are DECIMAL(38,12)-accumulated (order-free), distances
    rounded to 6 — every cross-engine comparison in the plan is over
    identical doubles."""
    emb = load_table(spark, sf_dir, "embeddings")
    e = emb.select(
        "label", F.posexplode(F.col("embedding").cast("array<double>")).alias("p0", "x")
    )
    cent = (
        e.groupBy("label", F.col("p0").alias("pos"))
        .agg(
            F.round(
                F.sum(F.col("x").cast("decimal(38,12)")).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("m")
        )
        .groupBy("label")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "m"))), lambda s: s["m"]
            ).alias("cvec")
        )
    )
    v = F.col("embedding").cast("array<double>")
    dzero = F.lit(0).cast("decimal(38,12)")
    dist = F.round(
        F.sqrt(
            F.aggregate(
                F.zip_with(v, F.col("cvec"), lambda x, c: ((x - c) * (x - c)).cast("decimal(38,12)")),
                dzero,
                # decimal + widens scale (38,12)+(38,12)->(38,11); recast so
                # the accumulator type stays fixed — the 12th-decimal
                # truncation is 6 orders below the round-6 output
                lambda a, t: (a + t).cast("decimal(38,12)"),
            ).cast("double")
        ),
        6,
    )
    d = emb.join(F.broadcast(cent), "label").select(
        F.col("label").cast("long").alias("label"), dist.alias("dist")
    )
    return d.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.round(
            F.sum(F.col("dist").cast("decimal(38,6)")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("avg_dist"),
        F.round(F.max("dist"), 6).alias("max_dist"),
        F.sum((F.col("dist") > 1.01).cast("long")).alias("n_outliers"),
    )


@query(
    "mixture_temperature",
    f"""
    WITH t AS (
      SELECT source, {_TOKS} AS toks,
             list_reduce(list_prepend(CAST(0 AS BIGINT),
                 list_transform(range(1, length(text) + 1),
                     i -> CAST(ascii(substr(text, i, 1)) AS BIGINT))),
                 (a, x) -> (a * 31 + x) % 1000000007) AS fp
      FROM documents),
    c AS (SELECT source, count(*) AS n FROM t GROUP BY source),
    r AS (SELECT source, n,
                 CAST(floor(10000 * sqrt(CAST((SELECT min(n) FROM c) AS DOUBLE)
                                         / CAST(n AS DOUBLE))) AS BIGINT)
                   AS thresh
          FROM c)
    SELECT t.source, r.n AS n_docs,
           CAST(sum(CASE WHEN t.fp % 10000 < r.thresh THEN 1 ELSE 0 END)
                AS BIGINT) AS n_kept,
           CAST(sum(CASE WHEN t.fp % 10000 < r.thresh THEN len(t.toks)
                         ELSE 0 END) AS BIGINT) AS tokens_kept
    FROM t JOIN r ON t.source = r.source
    GROUP BY t.source, r.n
    """,
)
def mixture_temperature(spark: SparkSession, sf_dir: str) -> SDF:
    """Temperature-based source rebalancing (alpha = 0.5): every source's
    keep rate is sqrt(min_count / count) — the smallest source keeps
    100 % and larger sources are deterministically downsampled toward the
    tempered mixture, the standard knob for flattening a web-scale
    corpus's source skew before training.  Unlike ``mixture_sample``
    (fixed per-source rates) the rates here are DERIVED FROM THE DATA in
    a first counting pass.

    Scale shape: pass 1 is a map-side-combined count per source (a
    SOURCES-sized table); the integer keep thresholds are computed on
    that tiny table and BROADCAST back onto the corpus scan, so pass 2
    is a map-side fingerprint-mod keep decision + one rollup shuffle —
    the corpus is never shuffled.  The keep decision is hash-stable:
    re-running on a grown corpus keeps previously-kept docs unless the
    source's rate itself changed.  Float discipline: thresholds are
    floor(10000·sqrt(ratio)) over identical doubles on both engines —
    integers from there on."""
    docs = D.spread(load_table(spark, sf_dir, "documents").select("source", "text"))
    t = docs.select(
        "source",
        TX.char_fingerprint(F.col("text")).alias("fp"),
        F.size(TX.tokens(F.col("text"))).cast("long").alias("n_tok"),
    )
    c = t.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    min_n = c.agg(F.min("n").alias("mn"))
    r = c.crossJoin(F.broadcast(min_n)).select(
        "source",
        "n",
        F.floor(
            10000 * F.sqrt(F.col("mn").cast("double") / F.col("n").cast("double"))
        ).alias("thresh"),
    )
    keep = F.col("fp") % 10000 < F.col("thresh")
    return (
        t.join(F.broadcast(r), "source")
        .groupBy("source", F.col("n").alias("n_docs"))
        .agg(
            F.sum(keep.cast("long")).alias("n_kept"),
            F.sum(F.when(keep, F.col("n_tok")).otherwise(F.lit(0))).cast("long").alias(
                "tokens_kept"
            ),
        )
        .select("source", "n_docs", "n_kept", "tokens_kept")
    )


@query(
    "emb_random_projection",
    """
    WITH e AS (SELECT vec_id,
                      list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
               FROM embeddings)
    SELECT vec_id, j AS dim,
           round(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
               list_transform(range(1, len(v) + 1),
                   i -> v[i] * (1 - 2 * CAST(
                       ((CAST((i - 1) * 8191 + j AS BIGINT)
                         * CAST((i - 1) * 8191 + j AS BIGINT)) // 64) % 2
                       AS INTEGER)))),
               (a, x) -> a + x), 6) + 0.0 AS pval
    FROM e, (SELECT unnest(range(0, 8)) AS j)
    """,
)
def emb_random_projection(spark: SparkSession, sf_dir: str) -> SDF:
    """Johnson–Lindenstrauss random projection of the 64-d embeddings down
    to 8 dimensions with a DETERMINISTIC ±1 sign matrix — the standard
    dimensionality-reduction step in front of LSH bucketing / coarse ANN
    when the native dimension makes per-pair distance folds the hot cost.
    The sign matrix is never materialized: s(i, j) is computed in-row
    from an arithmetic mixer (parity of bit 6 of ((8191·i + j)²), column
    sums ≤ 8/64, no cross-column correlation — validated at build time),
    so both engines derive the identical matrix from pure integer math.

    Scale shape: entirely map-side — one ``transform`` over the 8 output
    dims, each an O(d) ``zip_with``/``aggregate`` fold inside whole-stage
    codegen; no shuffle, no Python, no stored projection matrix to ship.
    The per-dim EXPLODE to (vec_id, dim, pval) rows exists for the oracle
    comparison; a production pipeline would keep the 8-float array.
    Float discipline: the fold is a strict left-to-right double sum in
    both engines (Spark ``aggregate`` / DuckDB ``list_reduce`` over the
    same prepended-zero list), rounded to 6 decimals."""
    emb = load_table(spark, sf_dir, "embeddings")
    v = F.col("embedding").cast("array<double>")

    def sign(i, j):
        h = (i.cast("bigint") * F.lit(8191) + j).cast("bigint")
        return F.lit(1) - F.lit(2) * F.shiftright(h * h, 6).bitwiseAND(F.lit(1)).cast("int")

    # `+ 0.0` after the round normalizes IEEE signed zero: a fold that
    # lands just below 0 rounds to -0.0 in DuckDB but +0.0 in Spark —
    # numerically equal, but the driver's CSV hash sees "-0.0" ≠ "0.0"
    # (caught by the sf0.1 parity sweep; sf0.01 had no zero crossing).
    proj = F.transform(
        F.sequence(F.lit(0), F.lit(7)),
        lambda j: F.round(
            F.aggregate(
                F.zip_with(
                    v,
                    F.sequence(F.lit(0), F.size(v) - 1),
                    lambda x, i: x * sign(i, j),
                ),
                F.lit(0.0),
                lambda a, x: a + x,
            ),
            6,
        )
        + F.lit(0.0),
    )
    return emb.select("vec_id", F.posexplode(proj).alias("dim", "pval")).select(
        "vec_id", F.col("dim").cast("long").alias("dim"), "pval"
    )


@query(
    "text_boilerplate_ngram",
    f"""
    WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    a AS (SELECT doc_id,
                 list_distinct(list_transform(range(1, len(toks) - 2),
                     i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
                          || ' ' || toks[i+3])) AS sh
          FROM t WHERE len(toks) >= 4),
    g AS (SELECT doc_id, unnest(sh) AS gram FROM a),
    b AS (SELECT gram
          FROM (SELECT gram, count(DISTINCT doc_id) AS df FROM g GROUP BY gram)
          WHERE df >= 3),
    p AS (SELECT g.doc_id, count(*) AS n_boiler
          FROM g JOIN b USING (gram) GROUP BY g.doc_id)
    SELECT a.doc_id,
           CAST(len(a.sh) AS BIGINT) AS n_grams,
           CAST(coalesce(p.n_boiler, 0) AS BIGINT) AS n_boiler,
           round(CAST(coalesce(p.n_boiler, 0) AS DOUBLE) / len(a.sh), 4)
             AS boiler_frac
    FROM a LEFT JOIN p USING (doc_id)
    """,
)
def text_boilerplate_ngram(spark: SparkSession, sf_dir: str) -> SDF:
    """Cross-document boilerplate detection (RefinedWeb / CCNet style):
    a 4-gram that appears in >= 3 DISTINCT documents is boilerplate
    (navigation chrome, license headers, templated spans); every doc is
    scored with the fraction of its distinct 4-grams that are
    boilerplate — the signal used to drop template-dominated pages
    before training.

    Scale shape: grams leave the doc as 8-byte ``xxhash64`` fingerprints
    — the document-frequency count and the rejoin shuffle only
    (doc_id, hash) pairs, never gram text (same discipline as
    ``dedup_exact``).  The boilerplate set is NOT force-broadcast: at
    100 TB the df >= 3 gram set is itself huge, and both join inputs are
    already hash-partitioned on the gram fingerprint from the count
    stage, so the join reuses that exchange (AQE may still pick
    broadcast when the set is small, as at test scale).  The per-doc
    gram arrays are localCheckpointed once and feed both the explode and
    the final n_grams projection, so shingling runs a single time."""
    docs = load_table(spark, sf_dir, "documents")
    # hash-only gram pipeline (functions/dedup.token_hash_shingles): the
    # string-shingle form measured ~10× slower at sf0.1.  size(sh) > 0
    # ≡ len(toks) >= 4 (a 4-token doc yields exactly one gram).
    th = docs.select(
        "doc_id",
        F.transform(TX.tokens(F.col("text")), lambda t: F.xxhash64(t)).alias("th"),
    )
    # filter on the MATERIALIZED token array's size, not size(sh): a
    # predicate over the shingle expression makes Catalyst evaluate the
    # whole transform twice (filter + project).  size(th) >= 4 ≡ the
    # oracle's len(toks) >= 4.
    arr = (
        D.spread(th)
        .where(F.size("th") >= 4)
        .select("doc_id", D.token_hash_shingles(F.col("th"), 4).alias("sh"))
        .localCheckpoint(eager=True)
    )
    g = arr.select("doc_id", F.explode("sh").alias("gh"))
    # df = plain count, not count_distinct: `sh` is array_distinct per
    # doc, so the exploded (doc_id, gh) pairs are already unique — the
    # distinct spelling paid a second aggregate phase (two exchanges /
    # a (gh, doc_id)-keyed pre-dedup) for rows that cannot repeat
    # (round 15, guide §2.3 aggregate before you shuffle).
    boiler = (
        g.groupBy("gh")
        .agg(F.count(F.lit(1)).alias("df"))
        .where(F.col("df") >= 3)
        .select("gh")
    )
    per_doc = g.join(boiler, "gh").groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_boiler")
    )
    return (
        arr.select("doc_id", F.size("sh").cast("long").alias("n_grams"))
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            "n_grams",
            F.coalesce(F.col("n_boiler"), F.lit(0)).cast("long").alias("n_boiler"),
            F.round(
                F.coalesce(F.col("n_boiler"), F.lit(0)).cast("double")
                / F.col("n_grams"),
                4,
            ).alias("boiler_frac"),
        )
    )


@query(
    "dedup_containment",
    f"""
    WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    a AS (SELECT doc_id,
                 list_distinct(list_transform(range(1, len(toks) - 3),
                     i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
                          || ' ' || toks[i+3] || ' ' || toks[i+4])) AS sh
          FROM t WHERE len(toks) >= 5),
    g0 AS (SELECT doc_id, unnest(sh) AS gram FROM a),
    keep AS (SELECT gram
             FROM (SELECT gram, count(DISTINCT doc_id) AS df
                   FROM g0 GROUP BY gram)
             WHERE df BETWEEN 2 AND 20),
    g AS (SELECT g0.doc_id, g0.gram FROM g0 JOIN keep USING (gram)),
    n AS (SELECT doc_id, count(*) AS ng FROM g GROUP BY doc_id),
    p AS (SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS shared
          FROM g x JOIN g y ON x.gram = y.gram AND x.doc_id < y.doc_id
          GROUP BY x.doc_id, y.doc_id)
    SELECT p.a, p.b, CAST(p.shared AS BIGINT) AS shared,
           round(CAST(p.shared AS DOUBLE) / least(na.ng, nb.ng), 4)
             AS containment
    FROM p JOIN n na ON na.doc_id = p.a
           JOIN n nb ON nb.doc_id = p.b
    WHERE CAST(p.shared AS DOUBLE) / least(na.ng, nb.ng) >= 0.6
    """,
)
def dedup_containment(spark: SparkSession, sf_dir: str) -> SDF:
    """ASYMMETRIC near-dup detection by 5-gram containment: flags pairs
    where the smaller document's gram set is >= 60 % contained in the
    other — the quote / excerpt / superset relation that symmetric
    Jaccard misses entirely (a doc fully embedded in one 10× its size
    has Jaccard ~0.1 but containment 1.0).

    Scale shape: candidate generation is the gram-fingerprint equi-join,
    never all-pairs, with STOP-GRAM pruning first: grams in > 20 docs are
    dropped before pairing (df = 1 grams can't pair and are dropped too),
    bounding any single gram's pair fan-out at C(20,2) = 190 — the
    standard prefix/frequency filter that keeps a popular-gram hot key
    from exploding the join at corpus scale.  Everything shuffled is an
    8-byte hash or a doc_id; per-doc gram counts are taken AFTER the
    frequency filter so both engines normalize by the same set."""
    docs = load_table(spark, sf_dir, "documents")
    # hash-only grams (see text_boilerplate_ngram); g0 is checkpointed
    # because THREE consumers need it (df-count, join left, join right) —
    # un-staged, the tokenize+shingle subtree re-ran once per consumer
    # (measured 3× the whole-query cost at sf0.1).
    th = docs.select(
        "doc_id",
        F.transform(TX.tokens(F.col("text")), lambda t: F.xxhash64(t)).alias("th"),
    )
    # size(th) filter, not size(sh): see text_boilerplate_ngram.  The
    # checkpoint sits on the DOC-level gram arrays, BEFORE the explode:
    # Generate over an inline HOF expression re-evaluates the whole
    # shingle transform per OUTPUT row (measured ~10 s vs ~1 s at sf0.1);
    # exploding a materialized array column is a plain row expansion, and
    # all three g0 consumers (df-count, join left/right) re-derive it
    # cheaply from the checkpointed arrays.
    arr = (
        D.spread(th)
        .where(F.size("th") >= 5)
        .select("doc_id", D.token_hash_shingles(F.col("th"), 5).alias("sh"))
        .localCheckpoint(eager=True)
    )
    g0 = arr.select("doc_id", F.explode("sh").alias("gh"))
    # df = plain count: (doc_id, gh) pairs are unique by construction
    # (sh is array_distinct per doc) — see text_boilerplate_ngram.
    keep = (
        g0.groupBy("gh")
        .agg(F.count(F.lit(1)).alias("df"))
        .where(F.col("df").between(2, 20))
        .select("gh")
    )
    g = g0.join(keep, "gh").localCheckpoint(eager=True)
    n = g.groupBy("doc_id").agg(F.count(F.lit(1)).alias("ng"))
    left = g.select(F.col("gh"), F.col("doc_id").alias("a"))
    right = g.select(F.col("gh"), F.col("doc_id").alias("b"))
    p = (
        left.join(right, "gh")
        .where(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    cont = F.col("shared").cast("double") / F.least(F.col("na"), F.col("nb"))
    # n is doc-count-sized (one row per doc) — NOT broadcast-safe at
    # 100 TB; left to AQE, which picks broadcast at test scale and a
    # partitioned join when the corpus outgrows it.
    return (
        p.join(n.select(F.col("doc_id").alias("a"), F.col("ng").alias("na")), "a")
        .join(n.select(F.col("doc_id").alias("b"), F.col("ng").alias("nb")), "b")
        .where(cont >= 0.6)
        .select(
            "a",
            "b",
            F.col("shared").cast("long").alias("shared"),
            F.round(cont, 4).alias("containment"),
        )
    )


@query(
    "agg_grouping_sets",
    """
    SELECT o_orderstatus, o_orderpriority,
           count(*) AS n,
           CAST(sum(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS revenue
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
                            (o_orderpriority), ())
    """,
)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> SDF:
    """Arbitrary GROUPING SETS — the aggregation lattice rollup/cube can't
    express: here ((status, priority), (priority), ()) skips the
    (status)-only stratum, the shape BI rollup reports actually ask for.
    Spark 4's ``DataFrame.groupingSets`` lowers to ONE Expand + one hash
    aggregate — a single scan and a single shuffle for all three strata,
    not a UNION of three aggregates (the Expand multiplies rows by the
    set count map-side, partial aggs collapse them before the exchange).
    Sum folds in DECIMAL for partition-order determinism; NULL group
    cells are genuine super-aggregate markers (both group columns are
    non-null in the data, mirroring the ROLLUP precedent)."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.groupingSets(
        [["o_orderstatus", "o_orderpriority"], ["o_orderpriority"], []],
        "o_orderstatus",
        "o_orderpriority",
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("o_totalprice").cast("decimal(38,6)"))
        .cast("double")
        .alias("revenue"),
    )


@query(
    "rollup_time_hierarchy",
    """
    SELECT strftime(date_trunc('day', CAST(ts AS TIMESTAMP)),
                    '%Y-%m-%d %H:%M:%S') AS day,
           strftime(date_trunc('hour', CAST(ts AS TIMESTAMP)),
                    '%Y-%m-%d %H:%M:%S') AS hour,
           count(*) AS n,
           CAST(sum(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS sum_value
    FROM events
    GROUP BY ROLLUP (1, 2)
    """,
)
def rollup_time_hierarchy(spark: SparkSession, sf_dir: str) -> SDF:
    """Hypertable-style hierarchical time rollup: hourly, daily and
    grand-total aggregates of the event stream in ONE pass — GROUP BY
    ROLLUP over (day, hour) truncations of the timestamp.  The
    continuous-aggregate pattern: one Expand + one shuffle produces
    every granularity, instead of re-scanning 100 TB of events once per
    level; day is a prefix of hour, so the rollup lattice is exactly the
    natural time hierarchy and each super-aggregate row is the parent
    bucket.  Buckets are emitted as formatted strings so super-aggregate
    NULLs ride the same column type as real cells; the value sum folds
    in DECIMAL."""
    ev = load_table(spark, sf_dir, "events")
    day = F.date_format(F.date_trunc("day", F.col("ts")), "yyyy-MM-dd HH:mm:ss")
    hour = F.date_format(F.date_trunc("hour", F.col("ts")), "yyyy-MM-dd HH:mm:ss")
    return (
        ev.select(day.alias("day"), hour.alias("hour"), "value")
        .rollup("day", "hour")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(38,6)"))
            .cast("double")
            .alias("sum_value"),
        )
    )


@query(
    "scd2_dimension",
    """
    WITH s AS (SELECT user_id, ts, event_id, round(value, 4) AS attr
               FROM events WHERE event_type = 'signup')
    SELECT user_id,
           CAST(row_number() OVER w AS BIGINT) AS version,
           attr,
           strftime(ts, '%Y-%m-%d %H:%M:%S') AS valid_from,
           strftime(lead(ts) OVER w, '%Y-%m-%d %H:%M:%S') AS valid_to,
           lead(ts) OVER w IS NULL AS is_current
    FROM s
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
)
def scd2_dimension(spark: SparkSession, sf_dir: str) -> SDF:
    """Slowly-changing-dimension TYPE 2 build from an event log: each
    user's 'signup' events are attribute updates, turned into versioned
    validity intervals [valid_from, valid_to) with an is_current flag —
    the standard warehouse dimension-history construction (MERGE-based
    ``cdc_upsert_compact`` keeps only the latest row; SCD2 keeps them
    all, versioned).

    One shuffle: a per-user window (ORDER BY ts, event_id for a
    deterministic total order under same-timestamp updates) provides
    version = row_number and valid_to = lead(ts).  At 100 TB the
    partition key is user_id, so state per task is one user's history —
    no skew beyond the busiest entity, no join, no second scan.
    Interval ends are formatted strings so the open interval's NULL
    rides a string column."""
    ev = load_table(spark, sf_dir, "events")
    s = ev.where(F.col("event_type") == "signup").select(
        "user_id", "ts", "event_id", F.round("value", 4).alias("attr")
    )
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    fmt = "yyyy-MM-dd HH:mm:ss"
    lead_ts = F.lead("ts").over(w)
    return s.select(
        "user_id",
        F.row_number().over(w).cast("long").alias("version"),
        "attr",
        F.date_format("ts", fmt).alias("valid_from"),
        F.date_format(lead_ts, fmt).alias("valid_to"),
        lead_ts.isNull().alias("is_current"),
    )


@query(
    "join_pit_nearest",
    """
    WITH c AS (SELECT event_id, user_id, ts FROM events
               WHERE event_type = 'click'),
    p AS (SELECT user_id, ts FROM events WHERE event_type = 'purchase'),
    j AS (SELECT c.event_id, c.user_id, c.ts, p.ts AS pts,
                 abs(epoch_us(c.ts) - epoch_us(p.ts)) AS d
          FROM c LEFT JOIN p USING (user_id)),
    r AS (SELECT *, row_number() OVER (PARTITION BY event_id
                                       ORDER BY d, pts) AS rk FROM j)
    SELECT event_id, user_id, ts,
           strftime(pts, '%Y-%m-%d %H:%M:%S') AS nearest_purchase_ts,
           CAST(d AS BIGINT) AS gap_us
    FROM r WHERE rk = 1
    """,
)
def join_pit_nearest(spark: SparkSession, sf_dir: str) -> SDF:
    """Nearest-in-time join, EITHER direction: every click is matched to
    the temporally closest purchase by the same user (ties broken toward
    the earlier purchase) — the bidirectional twin of the
    backward-looking ``join_asof``, used for sensor alignment and
    action↔outcome attribution when causality can run both ways.

    Scale shape: ONE shuffle.  Both event sets interleave into a single
    per-user window ordered by (ts, side, event_id) with purchases
    sorted before same-timestamp clicks; the latest at-or-before
    purchase is ``last(..., ignorenulls)`` over the preceding frame, the
    earliest strictly-after purchase is ``first(...)`` over the
    following frame, and the global argmin over same-user purchases is
    provably the closer of those two candidates.  The oracle mirrors the
    semantics as an explicit user-blocked argmin join — quadratic per
    user, fine at oracle scale, while the window form stays
    O(n log n) per user at 100 TB."""
    ev = load_table(spark, sf_dir, "events")
    both = ev.where(F.col("event_type").isin("click", "purchase")).select(
        "event_id",
        "user_id",
        "ts",
        epoch_us("ts").alias("t"),
        (F.col("event_type") == "click").cast("int").alias("side"),
        F.when(F.col("event_type") == "purchase", F.col("ts")).alias("p_ts"),
    )
    w = W.partitionBy("user_id").orderBy("t", "side", "event_id")
    prev_p = F.last("p_ts", ignorenulls=True).over(
        w.rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    next_p = F.first("p_ts", ignorenulls=True).over(
        w.rowsBetween(W.currentRow, W.unboundedFollowing)
    )
    scored = both.select(
        "event_id", "user_id", "ts", "t", "side",
        prev_p.alias("prev_p"), next_p.alias("next_p"),
    ).where(F.col("side") == 1)
    d_prev = F.col("t") - epoch_us("prev_p")
    d_next = epoch_us("next_p") - F.col("t")
    take_prev = F.col("prev_p").isNotNull() & (
        F.col("next_p").isNull() | (d_prev <= d_next)
    )
    nearest = F.when(take_prev, F.col("prev_p")).otherwise(F.col("next_p"))
    gap = F.when(take_prev, d_prev).otherwise(d_next)
    return scored.select(
        "event_id",
        "user_id",
        "ts",
        F.date_format(nearest, "yyyy-MM-dd HH:mm:ss").alias("nearest_purchase_ts"),
        gap.cast("long").alias("gap_us"),
    )


@query(
    "text_unigram_surprisal",
    f"""
    WITH tv AS (SELECT doc_id, unnest(toks) AS tok
                FROM (SELECT doc_id, {_TOKS} AS toks FROM documents)
                WHERE len(toks) > 0),
    vocab AS (SELECT tok, count(*) AS n FROM tv GROUP BY tok),
    tot AS (SELECT sum(n) AS t FROM vocab),
    term AS (SELECT tok,
                    round(ln(CAST(t AS DOUBLE)) - ln(CAST(n AS DOUBLE)), 6)
                      AS srp
             FROM vocab, tot)
    SELECT tv.doc_id,
           count(*) AS n_tok,
           CAST(sum(CAST(srp AS DECIMAL(38,6))) AS DOUBLE) AS sum_surprisal
    FROM tv JOIN term USING (tok)
    GROUP BY tv.doc_id
    """,
)
def text_unigram_surprisal(spark: SparkSession, sf_dir: str) -> SDF:
    """Unigram-LM cross-entropy scoring (perplexity proxy): train unigram
    probabilities on the corpus itself, score every doc by its mean
    token surprisal -ln p(tok) in nats — the cheap LM-based quality
    signal (high = rare-token gibberish, low = stopword soup) used to
    bucket documents before an expensive model-based filter.

    Two-pass shape: pass 1 is the wordcount shuffle (map-side combined);
    the corpus total folds off the vocab table.  Pass 2 re-joins doc
    tokens to the per-token surprisal on the token key — the vocab side
    is NOT force-broadcast (a web-corpus vocabulary is ~1e8 rows; AQE
    picks broadcast at test scale) — then one rollup shuffle per doc.
    Float discipline mirrors text_char_entropy: each token's surprisal
    is rounded to 6 decimals once in the GROUPS-sized vocab table and
    the per-doc TOTAL folds those in DECIMAL, so engine log-ulp
    differences cannot reorder the sum.  The output is the exact sum
    (n_tok alongside; avg = sum/n for the caller) — a rounded quotient
    is a round-half tie landmine across engines (its bigram twin
    flipped one at sf0.1; see text_bigram_surprisal)."""
    docs = load_table(spark, sf_dir, "documents")
    tv = D.spread(docs.select("doc_id", TX.tokens(F.col("text")).alias("toks"))).where(
        F.size("toks") > 0
    ).select("doc_id", F.explode("toks").alias("tok"))
    # Eager checkpoint (round 15, the text_bigram_surprisal fix): the
    # wordcount leg and the per-doc score join BOTH consume the exploded
    # (doc_id, tok) rows — un-staged, the tokenize+explode corpus pass
    # ran twice.
    tv = tv.localCheckpoint(eager=True)
    vocab = tv.groupBy("tok").agg(F.count(F.lit(1)).alias("n"))
    tot = vocab.agg(F.sum("n").alias("t"))
    term = vocab.crossJoin(F.broadcast(tot)).select(
        "tok",
        F.round(
            F.log(F.col("t").cast("double")) - F.log(F.col("n").cast("double")), 6
        ).alias("srp"),
    )
    return (
        tv.join(term, "tok")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tok"),
            F.sum(F.col("srp").cast("decimal(38,6)"))
            .cast("double")
            .alias("sum_surprisal"),
        )
    )


@query(
    "window_pattern_match",
    """
    WITH s AS (SELECT user_id, event_id, event_type,
                      lead(event_type, 1) OVER w AS n1,
                      lead(event_type, 2) OVER w AS n2,
                      lead(event_type, 3) OVER w AS n3
               FROM events
               WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
    SELECT user_id,
           count(*) AS n_clicks,
           CAST(sum(CASE WHEN 'purchase' IN (n1, n2, n3) THEN 1 ELSE 0 END)
                AS BIGINT) AS n_converted,
           round(CAST(sum(CASE WHEN 'purchase' IN (n1, n2, n3) THEN 1 ELSE 0
                          END) AS DOUBLE) / count(*), 4) AS conv_rate
    FROM s WHERE event_type = 'click'
    GROUP BY user_id
    """,
)
def window_pattern_match(spark: SparkSession, sf_dir: str) -> SDF:
    """MATCH_RECOGNIZE-style sequence detection without the SQL extension:
    for every user, how many clicks are followed by a purchase within
    the next 3 events (any type) — the path/sequence query behind
    "did the nudge convert" product analytics.  ``funnel_conversion``
    asks whether stages EVER happen in order; this asks for ADJACENCY
    within a bounded lookahead, which is what lead(k) expresses exactly.

    One shuffle: a per-user window (deterministic (ts, event_id) order)
    computes the 3-step lookahead in a single pass — no self-join, no
    explode; the rollup then shuffles one row per click.  At 100 TB the
    lookahead is O(k) state per row regardless of history length,
    unlike a time-range self-join whose fan-out scales with event
    density."""
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    s = ev.select(
        "user_id",
        "event_type",
        F.lead("event_type", 1).over(w).alias("n1"),
        F.lead("event_type", 2).over(w).alias("n2"),
        F.lead("event_type", 3).over(w).alias("n3"),
    ).where(F.col("event_type") == "click")
    # coalesce before the sum: a click with NO lookahead events (user's
    # last/only events) has all-NULL leads, and NULL|false = NULL — an
    # un-coalesced sum returns NULL where the oracle's CASE counts 0
    # (caught by the adversarial single-event-user test)
    hit = F.coalesce(
        (F.col("n1") == "purchase")
        | (F.col("n2") == "purchase")
        | (F.col("n3") == "purchase"),
        F.lit(False),
    ).cast("long")
    return s.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_clicks"),
        F.sum(hit).alias("n_converted"),
        F.round(F.sum(hit).cast("double") / F.count(F.lit(1)), 4).alias("conv_rate"),
    )


@query(
    "stats_corr_matrix",
    """
    WITH a AS (SELECT count(*) AS n,
                      CAST(sum(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS sx,
                      CAST(sum(CAST(l_extendedprice AS DECIMAL(38,6))) AS DOUBLE) AS sy,
                      CAST(sum(CAST(l_discount AS DECIMAL(38,6))) AS DOUBLE) AS sz,
                      CAST(sum(CAST(l_quantity * l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS sxx,
                      CAST(sum(CAST(l_extendedprice * l_extendedprice AS DECIMAL(38,6))) AS DOUBLE) AS syy,
                      CAST(sum(CAST(l_discount * l_discount AS DECIMAL(38,6))) AS DOUBLE) AS szz,
                      CAST(sum(CAST(l_quantity * l_extendedprice AS DECIMAL(38,6))) AS DOUBLE) AS sxy,
                      CAST(sum(CAST(l_quantity * l_discount AS DECIMAL(38,6))) AS DOUBLE) AS sxz,
                      CAST(sum(CAST(l_extendedprice * l_discount AS DECIMAL(38,6))) AS DOUBLE) AS syz
               FROM lineitem)
    SELECT 'quantity_extendedprice' AS pair,
           round((n * sxy - sx * sy)
                 / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)), 4) AS corr
    FROM a
    UNION ALL
    SELECT 'quantity_discount',
           round((n * sxz - sx * sz)
                 / sqrt((n * sxx - sx * sx) * (n * szz - sz * sz)), 4)
    FROM a
    UNION ALL
    SELECT 'extendedprice_discount',
           round((n * syz - sy * sz)
                 / sqrt((n * syy - sy * sy) * (n * szz - sz * sz)), 4)
    FROM a
    """,
)
def stats_corr_matrix(spark: SparkSession, sf_dir: str) -> SDF:
    """Exact pairwise Pearson correlation matrix of three lineitem
    measures in ONE aggregation pass: all sums / squares / cross-products
    accumulate DECIMAL-exact in a single map-side-combined aggregate (no
    per-pair re-scan, no ``df.stat.corr`` driver loop — that API runs one
    job per pair), and the correlations fold arithmetically from the
    1-row moment table.  The moment-matrix shape scales to p columns as
    one pass over p(p+1)/2 accumulators — at 100 TB the scan dominates
    and adding a pair is free.  All moments are exact DECIMAL sums cast
    to double at the end, so both engines compute identical doubles
    before the round."""
    # spread: 9 BigDecimal accumulators per row are compute-heavy enough
    # that the single-file testdata scan's 1-task stage dominates
    # (measured 3.1 s serial vs sub-second spread at sf0.1)
    lin = D.spread(load_table(spark, sf_dir, "lineitem"))

    def dsum(expr):
        return F.sum(expr.cast("decimal(38,6)")).cast("double")

    q, e, d = F.col("l_quantity"), F.col("l_extendedprice"), F.col("l_discount")
    a = lin.agg(
        F.count(F.lit(1)).alias("n"),
        dsum(q).alias("sx"), dsum(e).alias("sy"), dsum(d).alias("sz"),
        dsum(q * q).alias("sxx"), dsum(e * e).alias("syy"), dsum(d * d).alias("szz"),
        dsum(q * e).alias("sxy"), dsum(q * d).alias("sxz"), dsum(e * d).alias("syz"),
    )

    def corr(sab, sa, sb, saa, sbb):
        n = F.col("n")
        return F.round(
            (n * F.col(sab) - F.col(sa) * F.col(sb))
            / F.sqrt(
                (n * F.col(saa) - F.col(sa) * F.col(sa))
                * (n * F.col(sbb) - F.col(sb) * F.col(sb))
            ),
            4,
        )
    pairs = [
        ("quantity_extendedprice", corr("sxy", "sx", "sy", "sxx", "syy")),
        ("quantity_discount", corr("sxz", "sx", "sz", "sxx", "szz")),
        ("extendedprice_discount", corr("syz", "sy", "sz", "syy", "szz")),
    ]
    # explode the 1-row moment table into the 3 output rows so the
    # aggregate subtree runs ONCE (a unionAll of three selects over `a`
    # would re-run the scan per branch)
    rows = F.array(
        *[F.struct(F.lit(name).alias("pair"), c.alias("corr")) for name, c in pairs]
    )
    return a.select(F.explode(rows).alias("s")).select("s.pair", "s.corr")


@query(
    "user_func_arrow",
    """
    SELECT c_custkey, upper(trim(c_name)) AS norm_name,
           CAST(length(c_name) AS BIGINT) AS name_len
    FROM customer
    """,
)
def user_func_arrow(spark: SparkSession, sf_dir: str) -> SDF:
    """Spark 4 Arrow-optimized Python UDF (``useArrow=True``): the row API
    with Arrow-batch serialization — the migration path for row UDFs that
    can't be expressed as vectorized pandas_udfs (per-row control flow,
    third-party per-value libraries).  The plan shows ArrowEvalPython,
    never BatchEvalPython: data crosses as Arrow batches, only the Python
    call itself is per-row, which measured ~5-10× over pickled row UDFs.
    The UDF body sticks to ASCII-exact ops (strip spaces + upper) so the
    SQL mirror is semantically identical for any input; name_len comes
    from the JVM side — mixing codegen and Arrow stages in one projection
    is the realistic shape."""
    from pyspark.sql.types import StringType

    norm = F.udf(lambda s: s.strip(" ").upper(), StringType(), useArrow=True)
    cust = load_table(spark, sf_dir, "customer")
    return cust.select(
        "c_custkey",
        norm("c_name").alias("norm_name"),
        F.length("c_name").cast("long").alias("name_len"),
    )


@query(
    "stats_ols_regression",
    """
    WITH m AS (SELECT
        CAST(count(*) AS DOUBLE) AS n,
        CAST(sum(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS s1,
        CAST(sum(CAST(l_discount AS DECIMAL(38,6))) AS DOUBLE) AS s2,
        CAST(sum(CAST(l_extendedprice AS DECIMAL(38,6))) AS DOUBLE) AS sy,
        CAST(sum(CAST(l_quantity * l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS s11,
        CAST(sum(CAST(l_quantity * l_discount AS DECIMAL(38,6))) AS DOUBLE) AS s12,
        CAST(sum(CAST(l_discount * l_discount AS DECIMAL(38,6))) AS DOUBLE) AS s22,
        CAST(sum(CAST(l_quantity * l_extendedprice AS DECIMAL(38,6))) AS DOUBLE) AS s1y,
        CAST(sum(CAST(l_discount * l_extendedprice AS DECIMAL(38,6))) AS DOUBLE) AS s2y,
        CAST(sum(CAST(l_extendedprice * l_extendedprice AS DECIMAL(38,6))) AS DOUBLE) AS syy
      FROM lineitem),
    d AS (SELECT *,
        n  * (s11 * s22 - s12 * s12)
      - s1 * (s1  * s22 - s12 * s2)
      + s2 * (s1  * s12 - s11 * s2) AS det
      FROM m),
    b AS (SELECT *,
        (sy  * (s11 * s22 - s12 * s12)
       - s1y * (s1  * s22 - s2  * s12)
       + s2y * (s1  * s12 - s2  * s11)) / det AS b0,
        (n   * (s1y * s22 - s2y * s12)
       - s1  * (sy  * s22 - s2y * s2)
       + s2  * (sy  * s12 - s1y * s2)) / det AS b1,
        (n   * (s11 * s2y - s12 * s1y)
       - s1  * (s1  * s2y - s12 * sy)
       + s2  * (s1  * s1y - s11 * sy)) / det AS b2
      FROM d)
    SELECT round(b0, 4) AS b0, round(b1, 4) AS b1, round(b2, 4) AS b2,
           round(1 - (syy - b0 * sy - b1 * s1y - b2 * s2y)
                     / (syy - sy * sy / n), 4) AS r2
    FROM b
    """,
)
def stats_ols_regression(spark: SparkSession, sf_dir: str) -> SDF:
    """Closed-form multiple linear regression (OLS) fit of
    extendedprice ~ quantity + discount, plus R², computed entirely from
    the exact moment matrix: one DECIMAL-folded aggregation pass builds
    X'X and X'y, and the 3×3 normal equations solve by Cramer's rule as
    plain arithmetic on the 1-row moment table — no mllib, no driver
    round-trip, no iteration.  The same pattern fits p regressors with
    one pass and O(p²) accumulators; at 100 TB the scan is the entire
    cost (identical shape to stats_corr_matrix, which shares the spread
    rationale).  Both engines derive every double from identical exact
    DECIMAL sums, so the Cramer arithmetic is bit-identical before the
    round."""
    lin = D.spread(load_table(spark, sf_dir, "lineitem"))

    def dsum(expr):
        return F.sum(expr.cast("decimal(38,6)")).cast("double")

    x1, x2, y = F.col("l_quantity"), F.col("l_discount"), F.col("l_extendedprice")
    m = lin.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        dsum(x1).alias("s1"), dsum(x2).alias("s2"), dsum(y).alias("sy"),
        dsum(x1 * x1).alias("s11"), dsum(x1 * x2).alias("s12"),
        dsum(x2 * x2).alias("s22"), dsum(x1 * y).alias("s1y"),
        dsum(x2 * y).alias("s2y"), dsum(y * y).alias("syy"),
    )
    c = {k: F.col(k) for k in ("n","s1","s2","sy","s11","s12","s22","s1y","s2y","syy")}
    det = (
        c["n"] * (c["s11"] * c["s22"] - c["s12"] * c["s12"])
        - c["s1"] * (c["s1"] * c["s22"] - c["s12"] * c["s2"])
        + c["s2"] * (c["s1"] * c["s12"] - c["s11"] * c["s2"])
    )
    b0 = (
        c["sy"] * (c["s11"] * c["s22"] - c["s12"] * c["s12"])
        - c["s1y"] * (c["s1"] * c["s22"] - c["s2"] * c["s12"])
        + c["s2y"] * (c["s1"] * c["s12"] - c["s2"] * c["s11"])
    ) / det
    b1 = (
        c["n"] * (c["s1y"] * c["s22"] - c["s2y"] * c["s12"])
        - c["s1"] * (c["sy"] * c["s22"] - c["s2y"] * c["s2"])
        + c["s2"] * (c["sy"] * c["s12"] - c["s1y"] * c["s2"])
    ) / det
    b2 = (
        c["n"] * (c["s11"] * c["s2y"] - c["s12"] * c["s1y"])
        - c["s1"] * (c["s1"] * c["s2y"] - c["s12"] * c["sy"])
        + c["s2"] * (c["s1"] * c["s1y"] - c["s11"] * c["sy"])
    ) / det
    staged = m.select(
        c["n"], c["s1"], c["s2"], c["sy"], c["s1y"], c["s2y"], c["syy"],
        b0.alias("b0"), b1.alias("b1"), b2.alias("b2"),
    )
    return staged.select(
        F.round("b0", 4).alias("b0"),
        F.round("b1", 4).alias("b1"),
        F.round("b2", 4).alias("b2"),
        F.round(
            F.lit(1)
            - (F.col("syy") - F.col("b0") * F.col("sy") - F.col("b1") * F.col("s1y")
               - F.col("b2") * F.col("s2y"))
            / (F.col("syy") - F.col("sy") * F.col("sy") / F.col("n")),
            4,
        ).alias("r2"),
    )


@query(
    "scan_xml",
    """
    SELECT c_custkey, c_name, c_nationkey,
           round(CAST(c_acctbal AS DOUBLE), 4) AS c_acctbal
    FROM customer
    """,
)
def scan_xml(spark: SparkSession, sf_dir: str) -> SDF:
    """XML sink+source round-trip on Spark 4's NATIVE xml data source
    (built in since 4.0 — no spark-xml package): writer emits one <row>
    element per record, reader parses with an EXPLICIT schema so the scan
    is single-pass (schema inference over XML reads everything twice, a
    non-starter at scale).  XML is the interchange format legacy feeds
    still arrive in; values round-trip exactly (Java shortest-repr double
    serialization + entity-escaped strings)."""
    from .tier4 import _roundtrip_dir

    out = _roundtrip_dir(sf_dir, "xml")
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_nationkey", F.round("c_acctbal", 4).alias("c_acctbal")
    )
    cust.write.mode("overwrite").option("rootTag", "rows").option(
        "rowTag", "row"
    ).format("xml").save(out)
    return (
        spark.read.schema(
            "c_custkey long, c_name string, c_nationkey long, c_acctbal double"
        )
        .option("rowTag", "row")
        .format("xml")
        .load(out)
    )


_PFP = """list_reduce(list_prepend(CAST(0 AS BIGINT),
                 list_transform(range(1, length(text) + 1),
                     i -> CAST(ascii(substr(text, i, 1)) AS BIGINT))),
                 (a, x) -> (a * 31 + x) % 1000000007)"""


@query(
    "pipeline_pretrain_corpus",
    f"""
    WITH t AS (SELECT doc_id, source, n_chars, md5(text) AS fp,
                      {_PFP} AS pfp, {_TOKS} AS toks
               FROM documents),
    t2 AS (SELECT doc_id, source, n_chars, fp, pfp,
                  CAST(len(toks) AS BIGINT) AS n_tok,
                  CASE WHEN len(toks) >= 5 THEN
                    list_distinct(list_transform(range(1, len(toks) - 3),
                      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
                           || ' ' || toks[i+3] || ' ' || toks[i+4]))
                  ELSE [] END AS sh
           FROM t),
    ded AS (SELECT *, doc_id = min(doc_id) OVER (PARTITION BY fp) AS k1
            FROM t2),
    q AS (SELECT *, k1 AND n_tok >= 20
                 AND CAST(n_chars AS DOUBLE) / greatest(n_tok, 1) <= 6.0 AS k2
          FROM ded),
    evg AS (SELECT DISTINCT unnest(sh) AS gram FROM t2 WHERE source = 'src0'),
    cont AS (SELECT DISTINCT g.doc_id
             FROM (SELECT doc_id, unnest(sh) AS gram FROM t2
                   WHERE source <> 'src0') g
             JOIN evg USING (gram)),
    dc AS (SELECT q.*, q.k2 AND q.source <> 'src0'
                  AND q.doc_id NOT IN (SELECT doc_id FROM cont) AS k3
           FROM q),
    c3 AS (SELECT source, count(*) AS n FROM dc WHERE k3 GROUP BY source),
    r AS (SELECT source,
                 CAST(floor(10000 * sqrt(CAST((SELECT min(n) FROM c3) AS DOUBLE)
                                         / CAST(n AS DOUBLE))) AS BIGINT)
                   AS thresh
          FROM c3),
    mx AS (SELECT dc.*, dc.k3 AND (dc.pfp % 10000) < coalesce(r.thresh, 0) AS k4
           FROM dc LEFT JOIN r USING (source)),
    stages AS (
      SELECT 's0_raw' AS stage, count(*) AS n_docs,
             CAST(sum(n_tok) AS BIGINT) AS n_tokens FROM mx
      UNION ALL
      SELECT 's1_exact_dedup', CAST(sum(CASE WHEN k1 THEN 1 ELSE 0 END) AS BIGINT),
             CAST(sum(CASE WHEN k1 THEN n_tok ELSE 0 END) AS BIGINT) FROM mx
      UNION ALL
      SELECT 's2_quality', CAST(sum(CASE WHEN k2 THEN 1 ELSE 0 END) AS BIGINT),
             CAST(sum(CASE WHEN k2 THEN n_tok ELSE 0 END) AS BIGINT) FROM mx
      UNION ALL
      SELECT 's3_decontam', CAST(sum(CASE WHEN k3 THEN 1 ELSE 0 END) AS BIGINT),
             CAST(sum(CASE WHEN k3 THEN n_tok ELSE 0 END) AS BIGINT) FROM mx
      UNION ALL
      SELECT 's4_mixture', CAST(sum(CASE WHEN k4 THEN 1 ELSE 0 END) AS BIGINT),
             CAST(sum(CASE WHEN k4 THEN n_tok ELSE 0 END) AS BIGINT) FROM mx)
    SELECT stage, n_docs, n_tokens FROM stages
    UNION ALL
    SELECT 's5_pack_512',
           CAST(ceil(CAST(n_tokens AS DOUBLE) / 512) AS BIGINT), n_tokens
    FROM stages WHERE stage = 's4_mixture'
    """,
)
def pipeline_pretrain_corpus(spark: SparkSession, sf_dir: str) -> SDF:
    """THE flagship composition: the full pretraining-corpus funnel in one
    query — exact dedup → heuristic quality gate → eval-set
    decontamination → temperature (α=0.5) source rebalancing → 512-token
    sequence packing — reporting surviving docs + tokens after every
    stage (the dataset-card table every corpus release publishes).

    Scale shape: ONE boolean flag per stage per doc, all computed before
    a single rollup — no stage materializes an intermediate corpus:
    * exact dedup is a min-over-window on md5 (one shuffle of 16-byte
      keys);
    * quality is map-side arithmetic;
    * decontamination broadcast-semi-joins the (tiny by construction)
      eval-set gram fingerprints against hash-only doc grams;
    * mixture thresholds derive from the SOURCES-sized survivor counts
      of the previous stage and broadcast back (hash-stable keeps,
      corpus never shuffled);
    * the funnel rollup is one aggregation over the flag table, and the
      pack row folds off the (checkpointed, 5-row) rollup itself.
    Counting 'docs that WOULD survive' instead of filtering keeps every
    stage's effect auditable from one pass — flip a flag conjunction to
    materialize the actual corpus."""
    docs = load_table(spark, sf_dir, "documents")
    toks = TX.tokens(F.col("text"))
    t = D.spread(docs.select("doc_id", "source", "n_chars", "text")).select(
        "doc_id",
        "source",
        "n_chars",
        F.md5("text").alias("fp"),
        TX.char_fingerprint(F.col("text")).alias("pfp"),
        F.size(toks).cast("long").alias("n_tok"),
        F.transform(toks, lambda x: F.xxhash64(x)).alias("th"),
    )
    t2 = t.select(
        "doc_id", "source", "n_chars", "fp", "pfp", "n_tok",
        D.token_hash_shingles(F.col("th"), 5).alias("sh"),
    ).localCheckpoint(eager=True)

    w = W.partitionBy("fp")
    ded = t2.withColumn("k1", F.col("doc_id") == F.min("doc_id").over(w))
    q = ded.withColumn(
        "k2",
        F.col("k1")
        & (F.col("n_tok") >= 20)
        & (F.col("n_chars").cast("double") / F.greatest(F.col("n_tok"), F.lit(1)) <= 6.0),
    )
    evg = (
        t2.where(F.col("source") == "src0")
        .select(F.explode("sh").alias("gh"))
        .distinct()
    )
    cont = (
        t2.where(F.col("source") != "src0")
        .select("doc_id", F.explode("sh").alias("gh"))
        .join(F.broadcast(evg), "gh")
        .select("doc_id")
        .distinct()
        .withColumn("is_cont", F.lit(True))
    )
    # Eager checkpoint on the NARROW flag table (round 15, guide §1.3):
    # the mixture thresholds (c3/r) and the final rollup (mx) both
    # consume dc — un-staged, the exact-dedup window AND the decontam
    # gram-explode + eval-join executed twice (once under c3, once under
    # mx).  Only the columns the two consumers read are materialized
    # (source, n_tok, pfp, k1–k3): flags, never the corpus.
    dc = (
        q.join(cont, "doc_id", "left")
        .withColumn(
            "k3",
            F.col("k2") & (F.col("source") != "src0") & F.col("is_cont").isNull(),
        )
        .select("source", "n_tok", "pfp", "k1", "k2", "k3")
        .localCheckpoint(eager=True)
    )
    c3 = dc.where(F.col("k3")).groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    min_n = c3.agg(F.min("n").alias("mn"))
    r = c3.crossJoin(F.broadcast(min_n)).select(
        "source",
        F.floor(
            10000 * F.sqrt(F.col("mn").cast("double") / F.col("n").cast("double"))
        ).alias("thresh"),
    )
    mx = dc.join(F.broadcast(r), "source", "left").withColumn(
        "k4",
        F.col("k3") & (F.col("pfp") % 10000 < F.coalesce(F.col("thresh"), F.lit(0))),
    )

    def _stage(name, flag):
        return F.struct(
            F.lit(name).alias("stage"),
            flag.cast("long").alias("inc"),
            F.when(flag, F.col("n_tok")).otherwise(F.lit(0)).alias("tok"),
        )

    exploded = mx.select(
        F.explode(
            F.array(
                _stage("s0_raw", F.lit(True)),
                _stage("s1_exact_dedup", F.col("k1")),
                _stage("s2_quality", F.col("k2")),
                _stage("s3_decontam", F.col("k3")),
                _stage("s4_mixture", F.col("k4")),
            )
        ).alias("s")
    )
    rollup = (
        exploded.groupBy(F.col("s.stage").alias("stage"))
        .agg(
            F.sum("s.inc").alias("n_docs"),
            F.sum("s.tok").cast("long").alias("n_tokens"),
        )
        .localCheckpoint(eager=True)
    )
    pack = rollup.where(F.col("stage") == "s4_mixture").select(
        F.lit("s5_pack_512").alias("stage"),
        F.ceil(F.col("n_tokens").cast("double") / 512).cast("long").alias("n_docs"),
        "n_tokens",
    )
    return rollup.unionAll(pack)


@query(
    "sql_pipe_syntax",
    """
    SELECT l_returnflag,
           CAST(sum(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS sum_qty,
           count(*) AS n
    FROM lineitem WHERE l_quantity > 10 GROUP BY l_returnflag
    """,
)
def sql_pipe_syntax(spark: SparkSession, sf_dir: str) -> SDF:
    """Spark 4 SQL pipe syntax (`|>`): the linear FROM → WHERE →
    AGGREGATE form that reads in execution order — same Catalyst plan as
    the classic SELECT (verified by the shared oracle), purely surface:
    an engine claiming the Spark 4 SQL surface must parse it.  The
    filter still pushes to the scan and the aggregate still map-side
    combines; pipe stages are sugar, not a planning boundary."""
    lin = load_table(spark, sf_dir, "lineitem")
    lin.createOrReplaceTempView("pipe_lineitem")
    return spark.sql(
        """FROM pipe_lineitem
           |> WHERE l_quantity > 10
           |> AGGREGATE CAST(sum(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE)
                          AS sum_qty,
                        count(*) AS n
              GROUP BY l_returnflag"""
    ).select("l_returnflag", "sum_qty", "n")


@query(
    "join_lateral",
    """
    SELECT c.c_custkey, o.o_orderkey,
           round(CAST(o.o_totalprice AS DOUBLE), 4) AS o_totalprice
    FROM customer c JOIN LATERAL (
        SELECT o_orderkey, o_totalprice FROM orders o
        WHERE o.o_custkey = c.c_custkey
        ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) o ON true
    """,
)
def join_lateral(spark: SparkSession, sf_dir: str) -> SDF:
    """Correlated LATERAL join — top-2 orders per customer written as the
    per-row subquery analysts actually type.  Catalyst DECORRELATES it:
    the per-customer ORDER BY/LIMIT becomes a partitioned window/rank,
    so the plan is one shuffle, not one subquery execution per customer
    row (the thing that would never survive 100 TB).  Same result as the
    window_rank family; registered for the SQL surface and the
    decorrelation guarantee."""
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("lat_customer")
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("lat_orders")
    return spark.sql(
        """SELECT c.c_custkey, o.o_orderkey,
                  round(CAST(o.o_totalprice AS DOUBLE), 4) AS o_totalprice
           FROM lat_customer c JOIN LATERAL (
               SELECT o_orderkey, o_totalprice FROM lat_orders o
               WHERE o.o_custkey = c.c_custkey
               ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) o"""
    )


@query(
    "sql_recursive_cte",
    """
    WITH RECURSIVE cal(d) AS (
      SELECT TIMESTAMP '1995-01-01'
      UNION ALL SELECT d + INTERVAL 1 DAY FROM cal
      WHERE d < TIMESTAMP '1995-03-31')
    SELECT cal.d AS day,
           CAST(count(o_orderkey) AS BIGINT) AS n_orders,
           CAST(sum(CAST(coalesce(o_totalprice, 0) AS DECIMAL(38,6)))
                AS DOUBLE) AS revenue
    FROM cal LEFT JOIN orders ON date_trunc('day', o_orderdate) = cal.d
    GROUP BY cal.d
    """,
)
def sql_recursive_cte(spark: SparkSession, sf_dir: str) -> SDF:
    """Recursive CTE (Spark 4.1): generate the Q1-1995 calendar by
    recursion and LEFT JOIN order revenue onto it — zero-order days kept
    (the calendar-dimension gapfill every reporting stack needs).  The
    recursion is driver-cheap (90 single-row steps building a tiny
    dimension); the join against the fact table is one broadcast of the
    90-row calendar — the fact side never shuffles.  The DataFrame twin
    of the date spine is sequence()+explode (timeseries_gapfill); this
    registers the SQL-standard form."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("rec_orders")
    return spark.sql(
        """WITH RECURSIVE cal(d) AS (
             SELECT TIMESTAMP '1995-01-01'
             UNION ALL SELECT d + INTERVAL 1 DAY FROM cal
             WHERE d < TIMESTAMP '1995-03-31')
           SELECT cal.d AS day,
                  CAST(count(o_orderkey) AS BIGINT) AS n_orders,
                  CAST(sum(CAST(coalesce(o_totalprice, 0) AS DECIMAL(38,6)))
                       AS DOUBLE) AS revenue
           FROM cal LEFT JOIN rec_orders
             ON date_trunc('day', o_orderdate) = cal.d
           GROUP BY cal.d"""
    )


@query(
    "reshape_transpose",
    """
    WITH a AS (SELECT l_returnflag,
                      round(CAST(sum(CAST(l_quantity AS DECIMAL(38,6)))
                            AS DOUBLE), 4) AS sum_qty,
                      round(CAST(sum(CAST(l_extendedprice AS DECIMAL(38,6)))
                            AS DOUBLE), 4) AS sum_price,
                      CAST(count(*) AS DOUBLE) AS n
               FROM lineitem GROUP BY l_returnflag)
    SELECT 'sum_qty' AS key,
           max(CASE WHEN l_returnflag = 'A' THEN sum_qty END) AS A,
           max(CASE WHEN l_returnflag = 'N' THEN sum_qty END) AS N,
           max(CASE WHEN l_returnflag = 'R' THEN sum_qty END) AS R FROM a
    UNION ALL
    SELECT 'sum_price',
           max(CASE WHEN l_returnflag = 'A' THEN sum_price END),
           max(CASE WHEN l_returnflag = 'N' THEN sum_price END),
           max(CASE WHEN l_returnflag = 'R' THEN sum_price END) FROM a
    UNION ALL
    SELECT 'n',
           max(CASE WHEN l_returnflag = 'A' THEN n END),
           max(CASE WHEN l_returnflag = 'N' THEN n END),
           max(CASE WHEN l_returnflag = 'R' THEN n END) FROM a
    """,
)
def reshape_transpose(spark: SparkSession, sf_dir: str) -> SDF:
    """Spark 4 ``DataFrame.transpose()``: metrics-per-group (3×k) flipped
    to group-per-metric (k×3) — the report orientation flip that
    otherwise needs a hand-written conditional-aggregation pivot (which
    is exactly what the oracle writes out).  transpose() runs on the
    AGGREGATE (3 rows), so the expensive side is one normal groupBy scan;
    transposing a tall fact table would collect it — never do that.
    All metrics are cast double pre-transpose (transpose requires one
    least-common value type)."""
    lin = D.spread(load_table(spark, sf_dir, "lineitem"))
    agg = lin.groupBy("l_returnflag").agg(
        F.round(F.sum(F.col("l_quantity").cast("decimal(38,6)")).cast("double"), 4)
        .alias("sum_qty"),
        F.round(
            F.sum(F.col("l_extendedprice").cast("decimal(38,6)")).cast("double"), 4
        ).alias("sum_price"),
        F.count(F.lit(1)).cast("double").alias("n"),
    )
    # transpose() must execute its child at PLAN time (the first column's
    # values become the output header), and the final action would then
    # re-run the same 600k-row decimal aggregate a second time.  The
    # groups-sized (3-row) checkpoint makes the corpus aggregate run once
    # (round 15, guide §1.3 recompute-vs-reuse) — measured 1.45 -> ~0.8 s
    # warm at sf0.1.
    return agg.localCheckpoint(eager=True).transpose()


@query(
    "string_collation",
    """
    WITH v AS (SELECT n_name FROM nation
               UNION ALL
               SELECT upper(substr(n_name, 1, 1)) ||
                      lower(substr(n_name, 2)) FROM nation)
    SELECT CAST(count(DISTINCT n_name) AS BIGINT) AS distinct_binary,
           CAST(count(DISTINCT lower(n_name)) AS BIGINT) AS distinct_lcase
    FROM v
    """,
)
def string_collation(spark: SparkSession, sf_dir: str) -> SDF:
    """Spark 4 string collations: the same distinct-count under the
    default binary collation vs UTF8_LCASE — case variants collapse
    under the collated comparison WITHOUT rewriting every predicate to
    lower(col) (which breaks pushdown and index/stats reuse on real
    tables; the collation is a column property the whole plan honors).
    The oracle mirrors the lcase semantics with lower() — identical for
    ASCII; collation-aware comparison is the scalable spelling."""
    nation = load_table(spark, sf_dir, "nation")
    v = nation.select("n_name").unionAll(
        nation.select(F.initcap(F.lower("n_name")).alias("n_name"))
    )
    return v.select(
        F.countDistinct("n_name").alias("distinct_binary"),
        F.countDistinct(F.expr("n_name COLLATE UTF8_LCASE")).alias("distinct_lcase"),
    )


@query(
    "window_rolling_median",
    """
    SELECT event_id, user_id,
           round(quantile_cont(value, 0.5) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN 4 PRECEDING AND CURRENT ROW), 4) + 0.0 AS med5
    FROM events
    """,
)
def window_rolling_median(spark: SparkSession, sf_dir: str) -> SDF:
    """Rolling EXACT median over the last 5 events per user — the
    robust-smoothing twin of ewma_smooth (mean-based smoothers chase the
    outliers the median ignores).  Spark's percentile() is a true window
    aggregate here: one shuffle on user_id, one sort, O(frame) state per
    row — no self-join against a range, no collect.  Interpolation
    contract: Spark percentile == DuckDB quantile_cont (continuous),
    rounded to 4; the (ts, event_id) order key is a deterministic total
    order under same-timestamp events."""
    ev = load_table(spark, sf_dir, "events")
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-4, W.currentRow)
    )
    # `+ 0.0` normalizes IEEE signed zero: a median of tiny negatives
    # rounds to -0.0 in one engine and +0.0 in the other (caught by the
    # adversarial events test; same class as emb_random_projection)
    return ev.select(
        "event_id",
        "user_id",
        (F.round(F.expr("percentile(value, 0.5)").over(w), 4) + F.lit(0.0)).alias(
            "med5"
        ),
    )


@query(
    "join_null_safe",
    """
    WITH o AS (SELECT o_orderkey, o_custkey,
                      nullif(o_orderstatus, 'O') AS grp
               FROM orders)
    SELECT coalesce(a.grp, '(null)') AS grp,
           count(*) AS n_pairs
    FROM o a JOIN o b
      ON a.o_custkey = b.o_custkey
     AND a.grp IS NOT DISTINCT FROM b.grp
     AND a.o_orderkey < b.o_orderkey
    GROUP BY coalesce(a.grp, '(null)')
    """,
)
def join_null_safe(spark: SparkSession, sf_dir: str) -> SDF:
    """NULL-safe equality join (`<=>` / IS NOT DISTINCT FROM): same-
    customer order pairs whose (possibly NULL) derived group matches,
    with NULL == NULL — the semantics entity-resolution joins need when
    the blocking key is legitimately absent (a plain `=` silently drops
    every NULL-keyed row, the classic dirty-feed bug).  The equi-key
    part (o_custkey) still drives the hash join, so `eqNullSafe` rides a
    bounded per-customer join, never a NULL-bucket cross product."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        F.nullif("o_orderstatus", F.lit("O")).alias("grp"),
    )
    a = o.select(
        F.col("o_orderkey").alias("ka"), F.col("o_custkey").alias("ca"),
        F.col("grp").alias("ga"),
    )
    b = o.select(
        F.col("o_orderkey").alias("kb"), F.col("o_custkey").alias("cb"),
        F.col("grp").alias("gb"),
    )
    return (
        a.join(
            b,
            (F.col("ca") == F.col("cb"))
            & F.col("ga").eqNullSafe(F.col("gb"))
            & (F.col("ka") < F.col("kb")),
        )
        .groupBy(F.coalesce(F.col("ga"), F.lit("(null)")).alias("grp"))
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )


@query(
    "agg_filter_clause",
    """
    SELECT l_returnflag,
           count(*) AS n,
           count(*) FILTER (WHERE l_quantity > 25) AS n_big,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(38,6)))
                FILTER (WHERE l_discount > 0.05) AS DOUBLE) AS disc_rev
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_filter_clause(spark: SparkSession, sf_dir: str) -> SDF:
    """SQL:2003 FILTER-clause aggregates: per-aggregate predicates in one
    grouping pass — the standard spelling of conditional aggregation
    (CASE-WHEN pivoting is the workaround dialect).  One scan, one
    shuffle, every FILTER evaluated map-side; the DECIMAL fold rides the
    filtered sum unchanged."""
    lin = load_table(spark, sf_dir, "lineitem")
    lin.createOrReplaceTempView("fc_lineitem")
    return spark.sql(
        """SELECT l_returnflag,
                  count(*) AS n,
                  count(*) FILTER (WHERE l_quantity > 25) AS n_big,
                  CAST(sum(CAST(l_extendedprice AS DECIMAL(38,6)))
                       FILTER (WHERE l_discount > 0.05) AS DOUBLE) AS disc_rev
           FROM fc_lineitem GROUP BY l_returnflag"""
    )


@query(
    "sql_group_by_all",
    """
    SELECT o_orderstatus, o_orderpriority,
           count(*) AS n,
           CAST(sum(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE)
             AS revenue
    FROM orders GROUP BY ALL
    """,
)
def sql_group_by_all(spark: SparkSession, sf_dir: str) -> SDF:
    """GROUP BY ALL (Spark 3.4+ / DuckDB-originated): every non-aggregate
    select item becomes a grouping key — kills the
    stale-column-list-after-edit bug in wide rollup queries.  Pure
    parser sugar over the same single-shuffle hash aggregate."""
    orders = load_table(spark, sf_dir, "orders")
    orders.createOrReplaceTempView("gba_orders")
    return spark.sql(
        """SELECT o_orderstatus, o_orderpriority,
                  count(*) AS n,
                  CAST(sum(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE)
                    AS revenue
           FROM gba_orders GROUP BY ALL"""
    )


# ---------------------------------------------------------------------------
# TPC-H completion (round 4): the five queries whose canonical form needs
# the partsupp table this testdata doesn't ship.  Each derives the
# part-supplier relation from lineitem (``GROUP BY l_partkey, l_suppkey``
# — one (pk, sk) shuffle, the exact relation partsupp materializes in
# stock TPC-H) and proxies ps_supplycost / ps_availqty with deterministic
# lineitem/part aggregates, so the *query shape* (correlated min-cost
# subquery, NOT-IN exclusion, scalar-fraction HAVING, nested semi-join)
# is preserved even though the literal columns differ.  With these, all
# 22 TPC-H query shapes are registered (Q1 = agg_groupby, tier2.py).
# ---------------------------------------------------------------------------


@query(
    "tpch_q2_min_cost_supplier",
    """
    WITH ps AS (
      SELECT l_partkey AS pk, l_suppkey AS sk,
             min(l_extendedprice) AS cost
      FROM lineitem GROUP BY l_partkey, l_suppkey),
    eu AS (
      SELECT s_suppkey, s_name, s_acctbal, n_name
      FROM supplier
      JOIN nation ON s_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      WHERE r_name = 'EUROPE')
    SELECT eu.s_acctbal, eu.s_name, eu.n_name,
           p.p_partkey, p.p_name, round(ps.cost, 2) AS supply_cost
    FROM part p
    JOIN ps ON ps.pk = p.p_partkey
    JOIN eu ON eu.s_suppkey = ps.sk
    WHERE p.p_type = 'SMALL' AND p.p_size <= 10
      AND ps.cost = (SELECT min(ps2.cost) FROM ps ps2
                     JOIN eu eu2 ON eu2.s_suppkey = ps2.sk
                     WHERE ps2.pk = p.p_partkey)
    ORDER BY eu.s_acctbal DESC, eu.n_name, eu.s_name, p.p_partkey
    LIMIT 20
    """,
)
def tpch_q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> SDF:
    """TPC-H Q2 (minimum-cost supplier), adapted: supply cost :=
    ``min(l_extendedprice)`` per (part, supplier) since there is no
    partsupp.  The correlated "cheapest in region per part" subquery
    decorrelates into a per-part min over the SAME derived relation,
    joined back — Catalyst plans both sides off one (pk, sk) shuffle, so
    the subquery costs one extra partial aggregate, not a probe per part.
    Cost is an exact double (min of 2-dp prices, no division), so the
    equality join agrees bit-for-bit across engines; ties keep every
    argmin supplier on both.  Final top-k is TakeOrderedAndProject with a
    unique (acctbal, nation, name, partkey) tie-break."""
    lin = load_table(spark, sf_dir, "lineitem")
    ps = lin.groupBy(
        F.col("l_partkey").alias("pk"), F.col("l_suppkey").alias("sk")
    ).agg(F.min("l_extendedprice").alias("cost"))
    nation = F.broadcast(load_table(spark, sf_dir, "nation"))
    region = F.broadcast(
        load_table(spark, sf_dir, "region").where(F.col("r_name") == "EUROPE")
    )
    eu = (
        load_table(spark, sf_dir, "supplier")
        .join(nation, F.col("s_nationkey") == F.col("n_nationkey"))
        .join(region, F.col("n_regionkey") == F.col("r_regionkey"))
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    # Eager checkpoint (round 15, guide §1.3): the per-part min subquery
    # AND the final argmin join both consume ps_eu — despite the one-
    # (pk, sk)-shuffle story, runtime measured the lineitem aggregate
    # executing TWICE (no exchange reuse materialized under AQE).  A/B:
    # warm 1.7 -> 1.25 s at sf0.1; staging ps (pre-eu, narrower) instead
    # measured slower (the broadcast probe re-ran per consumer).
    ps_eu = ps.join(F.broadcast(eu), ps.sk == eu.s_suppkey).localCheckpoint(
        eager=True
    )
    best = ps_eu.groupBy("pk").agg(F.min("cost").alias("min_cost"))
    part = F.broadcast(
        load_table(spark, sf_dir, "part").where(
            (F.col("p_type") == "SMALL") & (F.col("p_size") <= 10)
        )
    )
    return (
        ps_eu.join(best, "pk")
        .where(F.col("cost") == F.col("min_cost"))
        .join(part, F.col("pk") == F.col("p_partkey"))
        .orderBy(F.desc("s_acctbal"), "n_name", "s_name", "p_partkey")
        .limit(20)
        .select(
            "s_acctbal",
            "s_name",
            "n_name",
            "p_partkey",
            "p_name",
            F.round("cost", 2).alias("supply_cost"),
        )
    )


@query(
    "tpch_q9_product_profit",
    """
    SELECT n.n_name AS nation, year(l.l_shipdate) AS o_year,
           round(CAST(sum(CAST(l.l_extendedprice * (1 - l.l_discount)
                               - 0.6 * p.p_retailprice * l.l_quantity
                               AS DECIMAL(38,6))) AS DOUBLE), 2) AS profit
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    WHERE p.p_name LIKE '%red%'
    GROUP BY n.n_name, year(l.l_shipdate)
    """,
)
def tpch_q9_product_profit(spark: SparkSession, sf_dir: str) -> SDF:
    """TPC-H Q9 (product-type profit by nation and year), adapted: unit
    cost := ``0.6 * p_retailprice`` (no ps_supplycost), so profit =
    revenue − 0.6·retail·qty.  The whole amount is computed in IEEE
    double (bit-identical across engines) and DECIMAL-folded once for an
    order-independent sum.  Scale: the part filter broadcasts, supplier→
    nation is a broadcast dim chain, and the only shuffle is the final
    (nation, year) aggregate with map-side combine."""
    lin = load_table(spark, sf_dir, "lineitem")
    part = F.broadcast(
        load_table(spark, sf_dir, "part").where(F.col("p_name").like("%red%"))
    )
    supp = F.broadcast(load_table(spark, sf_dir, "supplier"))
    nation = F.broadcast(load_table(spark, sf_dir, "nation"))
    amount = (
        F.col("l_extendedprice") * (1 - F.col("l_discount"))
        - 0.6 * F.col("p_retailprice") * F.col("l_quantity")
    ).cast(_DEC)
    return (
        lin.join(part, lin.l_partkey == part.p_partkey)
        .join(supp, lin.l_suppkey == supp.s_suppkey)
        .join(nation, supp.s_nationkey == nation.n_nationkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("l_shipdate").alias("o_year"),
        )
        .agg(F.round(F.sum(amount).cast("double"), 2).alias("profit"))
    )


@query(
    "tpch_q11_important_stock",
    """
    WITH val AS (
      SELECT l_partkey AS pk,
             sum(CAST(l_extendedprice AS DECIMAL(38,6))) AS value
      FROM lineitem
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN nation ON n_nationkey = s_nationkey
      JOIN region ON r_regionkey = n_regionkey
      WHERE r_name = 'ASIA'
      GROUP BY l_partkey)
    SELECT pk AS p_partkey, round(CAST(value AS DOUBLE), 2) AS value
    FROM val
    WHERE CAST(value AS DOUBLE) >
          (SELECT 0.0007 * CAST(sum(value) AS DOUBLE) FROM val)
    """,
)
def tpch_q11_important_stock(spark: SparkSession, sf_dir: str) -> SDF:
    """TPC-H Q11 (important stock), adapted: per-part "stock value" :=
    the DECIMAL sum of extended price shipped by ASIA-region suppliers
    (no ps_availqty·ps_supplycost).  The fraction-of-total HAVING is a
    scalar subquery → 1-row aggregate broadcast (never a second scan of
    the grouped relation: Spark reuses the aggregated exchange under AQE).
    The compare runs in double on both engines from the same exact
    DECIMAL sums, so the strict > agrees bit-for-bit."""
    lin = load_table(spark, sf_dir, "lineitem")
    nation = F.broadcast(load_table(spark, sf_dir, "nation"))
    region = F.broadcast(
        load_table(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    )
    supp = (
        load_table(spark, sf_dir, "supplier")
        .join(nation, F.col("s_nationkey") == F.col("n_nationkey"))
        .join(region, F.col("n_regionkey") == F.col("r_regionkey"))
        .select("s_suppkey")
    )
    val = (
        lin.join(F.broadcast(supp), lin.l_suppkey == F.col("s_suppkey"))
        .groupBy(F.col("l_partkey").alias("pk"))
        .agg(F.sum(F.col("l_extendedprice").cast(_DEC)).alias("value"))
    )
    total = F.broadcast(
        val.agg((0.0007 * F.sum("value").cast("double")).alias("threshold"))
    )
    return (
        val.crossJoin(total)
        .where(F.col("value").cast("double") > F.col("threshold"))
        .select(
            F.col("pk").alias("p_partkey"),
            F.round(F.col("value").cast("double"), 2).alias("value"),
        )
    )


@query(
    "tpch_q16_supplier_relation",
    """
    WITH ps AS (
      SELECT DISTINCT l_partkey AS pk, l_suppkey AS sk FROM lineitem)
    SELECT p.p_brand, p.p_type, p.p_size,
           CAST(count(DISTINCT ps.sk) AS BIGINT) AS supplier_cnt
    FROM ps
    JOIN part p ON p.p_partkey = ps.pk
    WHERE p.p_brand <> 'Brand#1' AND p.p_type <> 'PROMO'
      AND p.p_size IN (1, 5, 10, 15, 20, 25, 30, 35, 40, 45, 49)
      AND ps.sk NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY p.p_brand, p.p_type, p.p_size
    """,
)
def tpch_q16_supplier_relation(spark: SparkSession, sf_dir: str) -> SDF:
    """TPC-H Q16 (part/supplier relationship count), adapted: the
    part-supplier pairs come from ``SELECT DISTINCT`` over lineitem and
    the "complaints" exclusion becomes ``s_acctbal < 0`` (no s_comment).
    NOT IN lowers to a broadcast left-anti join (the excluded-supplier
    set is tiny and non-null by construction, so the NULL-semantics trap
    of NOT IN never fires).  count(DISTINCT sk) per (brand, type, size)
    runs as the standard two-phase distinct-expand aggregate — one
    shuffle on the group keys after the pair-dedup shuffle."""
    lin = load_table(spark, sf_dir, "lineitem")
    ps = lin.select(
        F.col("l_partkey").alias("pk"), F.col("l_suppkey").alias("sk")
    ).distinct()
    bad = load_table(spark, sf_dir, "supplier").where(
        F.col("s_acctbal") < 0
    ).select("s_suppkey")
    part = F.broadcast(
        load_table(spark, sf_dir, "part").where(
            (F.col("p_brand") != "Brand#1")
            & (F.col("p_type") != "PROMO")
            & F.col("p_size").isin(1, 5, 10, 15, 20, 25, 30, 35, 40, 45, 49)
        )
    )
    return (
        ps.join(F.broadcast(bad), ps.sk == F.col("s_suppkey"), "left_anti")
        .join(part, F.col("pk") == F.col("p_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct(F.col("sk")).cast("bigint").alias("supplier_cnt"))
    )


@query(
    "tpch_q20_promotion_supplier",
    """
    WITH qty AS (
      SELECT l_partkey AS pk, l_suppkey AS sk,
             sum(CASE WHEN l_shipdate >= TIMESTAMP '1996-01-01'
                       AND l_shipdate < TIMESTAMP '1997-01-01'
                      THEN l_quantity ELSE 0 END) AS q96,
             sum(l_quantity) AS qall
      FROM lineitem
      WHERE l_partkey IN (SELECT p_partkey FROM part
                          WHERE p_name LIKE 'red%')
      GROUP BY l_partkey, l_suppkey)
    SELECT DISTINCT s.s_name, s.s_acctbal
    FROM supplier s
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    JOIN region r ON r.r_regionkey = n.n_regionkey
    WHERE r.r_name = 'AFRICA'
      AND s.s_suppkey IN (SELECT sk FROM qty WHERE q96 > 0.3 * qall)
    """,
)
def tpch_q20_promotion_supplier(spark: SparkSession, sf_dir: str) -> SDF:
    """TPC-H Q20 (potential part promotion), adapted: "availqty exceeds
    half of shipped quantity" becomes "1996 shipped quantity exceeds 30%
    of all-time shipped quantity" for red parts (no partsupp).  The
    nested IN-chain lowers to two left-semi joins: lineitem semi-joins
    the broadcast red-part keys BEFORE its (pk, sk) aggregate (filter
    below the shuffle), and supplier semi-joins the qualifying supplier
    keys.  Quantities are small exact doubles; the conditional sum is the
    same FILTER-style partial aggregate on both engines."""
    part_keys = load_table(spark, sf_dir, "part").where(
        F.col("p_name").like("red%")
    ).select("p_partkey")
    lin = load_table(spark, sf_dir, "lineitem").join(
        F.broadcast(part_keys),
        F.col("l_partkey") == F.col("p_partkey"),
        "left_semi",
    )
    in96 = (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp_ntz")) & (
        F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp_ntz")
    )
    qty = lin.groupBy(
        F.col("l_partkey").alias("pk"), F.col("l_suppkey").alias("sk")
    ).agg(
        F.sum(F.when(in96, F.col("l_quantity")).otherwise(F.lit(0.0))).alias("q96"),
        F.sum("l_quantity").alias("qall"),
    )
    good = qty.where(F.col("q96") > 0.3 * F.col("qall")).select("sk")
    nation = F.broadcast(load_table(spark, sf_dir, "nation"))
    region = F.broadcast(
        load_table(spark, sf_dir, "region").where(F.col("r_name") == "AFRICA")
    )
    return (
        load_table(spark, sf_dir, "supplier")
        .join(nation, F.col("s_nationkey") == F.col("n_nationkey"))
        .join(region, F.col("n_regionkey") == F.col("r_regionkey"))
        .join(good, F.col("s_suppkey") == F.col("sk"), "left_semi")
        .select("s_name", "s_acctbal")
        .distinct()
    )


# ---------------------------------------------------------------------------
# graph analytics beyond connected components: PageRank
# ---------------------------------------------------------------------------

_PR_CONTRIB = (
    "CAST(sum(CAST(r{k}.r / deg.d AS DECIMAL(38,18))) AS DOUBLE)"
)


@query(
    "graph_pagerank",
    f"""
    WITH ps AS (SELECT DISTINCT l_suppkey AS s, l_partkey AS p FROM lineitem),
    e AS (SELECT s AS src, 1000000 + p AS dst FROM ps
          UNION ALL SELECT 1000000 + p AS src, s AS dst FROM ps),
    deg AS (SELECT src, count(*) AS d FROM e GROUP BY src),
    nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM deg),
    r0 AS (SELECT src AS node, CAST(1.0 AS DOUBLE) / nn.n AS r FROM deg, nn),
    s1 AS (SELECT e.dst AS node, {_PR_CONTRIB.format(k=0)} AS s
           FROM e JOIN r0 ON r0.node = e.src JOIN deg USING (src)
           GROUP BY e.dst),
    r1 AS (SELECT node, CAST(0.15 AS DOUBLE) / nn.n
                        + CAST(0.85 AS DOUBLE) * s AS r FROM s1, nn),
    s2 AS (SELECT e.dst AS node, {_PR_CONTRIB.format(k=1)} AS s
           FROM e JOIN r1 ON r1.node = e.src JOIN deg USING (src)
           GROUP BY e.dst),
    r2 AS (SELECT node, CAST(0.15 AS DOUBLE) / nn.n
                        + CAST(0.85 AS DOUBLE) * s AS r FROM s2, nn),
    s3 AS (SELECT e.dst AS node, {_PR_CONTRIB.format(k=2)} AS s
           FROM e JOIN r2 ON r2.node = e.src JOIN deg USING (src)
           GROUP BY e.dst),
    r3 AS (SELECT node, CAST(0.15 AS DOUBLE) / nn.n
                        + CAST(0.85 AS DOUBLE) * s AS r FROM s3, nn)
    SELECT node, round(r, 8) AS rank
    FROM r3 ORDER BY r DESC, node LIMIT 20
    """,
)
def graph_pagerank(spark: SparkSession, sf_dir: str) -> SDF:
    """PageRank (damping 0.85, 3 synchronous iterations) over the
    bipartite supplier↔part graph derived from lineitem — the iterative
    graph-centrality template beyond dedup_components' label propagation.
    Part nodes are offset by 1e6 so one BIGINT id space carries both
    sides.

    Scale: each iteration is ONE shuffle (join ranks onto the edge list
    by src, aggregate contributions by dst) — the textbook Pregel
    message-passing round.  Contributions are DECIMAL(38,18)-folded so
    the per-dst sum is partition-order independent and bit-identical to
    the oracle's; every node has an in-edge (undirected expansion), so no
    dangling-mass term.  Degrees and ranks ride (id, 8B) rows — never the
    fact table.  The edge list is localCheckpoint'ed once and re-read
    per round; lineage is cut per iteration exactly like
    connected_components.  Top-k is TakeOrderedAndProject on the raw
    double rank with a unique node tie-break; rounding happens after
    ranking."""
    lin = load_table(spark, sf_dir, "lineitem")
    # The (s, p) projection is checkpointed (not the 2x-wider edge list):
    # both edge directions derive from it narrowly, and the post-
    # checkpoint count prices the loop's shuffle width without a second
    # pass over lineitem (round 15 — the old shape materialized e, then
    # aggregated degrees over it, then joined and REPARTITIONED it: two
    # more edge-sized exchanges plus an extra eager checkpoint than the
    # data needs).
    ps = lin.select(
        F.col("l_suppkey").alias("s"), F.col("l_partkey").alias("p")
    ).distinct().localCheckpoint(eager=True)
    e = ps.select(
        F.col("s").alias("src"), (F.lit(1000000) + F.col("p")).alias("dst")
    ).unionAll(
        ps.select(
            (F.lit(1000000) + F.col("p")).alias("src"), F.col("s").alias("dst")
        )
    )
    # Size the loop's shuffle width to the EDGE list (same formula family
    # as connected_components): left to AQE, the small-bytes shuffle
    # coalesces the whole join+DECIMAL-fold iteration into ONE task
    # (measured 4-6 s/round at sf0.1 vs <1 s at 8-way).
    n_edges = 2 * ps.count()
    parts = max(8, min(200, int(n_edges // 250_000) + 1))
    # The edge checkpoint carries ONLY (src, dst) — degrees never ride
    # the edges at all (round 15, third pass): the contribution r/d is
    # cast per NODE on the broadcast side, so the src-partitioned WINDOW
    # that previously stamped d onto every edge row (a 1.2M-row
    # partition sort at sf0.1) and the edge-sized DISTINCT that
    # recovered the node table from it were both pure overhead.  One
    # repartition pins the loop's hash partitioning; that is the only
    # edge-sized exchange in the build.
    ed = e.repartition(parts, "src").localCheckpoint(eager=True)
    # node degree table (nodes-sized), checkpointed once: both degree
    # tables fold map-side off the (s, p) checkpoint (count per s resp.
    # per p — identical to the per-src edge counts, since each side's
    # edges are exactly its partners) and each round's rank build
    # re-attaches the out-degree so the DECIMAL contribution r/d is
    # cast ONCE PER NODE on the broadcast side (guide §2.3 narrow what
    # flows per row; same cast on the same double → identical decimals,
    # identical per-dst fold).
    deg_s = ps.groupBy(F.col("s").alias("src")).agg(
        F.count(F.lit(1)).alias("d")
    )
    deg_p = ps.groupBy((F.lit(1000000) + F.col("p")).alias("src")).agg(
        F.count(F.lit(1)).alias("d")
    )
    dnodes = deg_s.unionAll(deg_p).localCheckpoint(eager=True)
    # |nodes| off the nodes-sized checkpoint, not a count_distinct pass
    # over the full edge list (same value: dnodes is keyed by src).
    nn = F.broadcast(
        dnodes.agg(F.count(F.lit(1)).cast("double").alias("n"))
    )
    r = dnodes.crossJoin(nn).select(
        F.col("src").alias("node"),
        (F.lit(1.0) / F.col("n")).alias("r"),
        F.col("d"),
    )
    for _ in range(3):
        # ranks are O(nodes) — orders of magnitude below the edge list —
        # so the per-round join BROADCASTS them onto the checkpointed
        # edges: map-only probe, no per-iteration sort of the edge list
        # (SortMergeJoin re-sorted 1.2M edges every round: 3× slower).
        # At billion-node scale flip this to the co-partitioned shuffle
        # join on src; the edge partitioning is already pinned for it.
        # No per-iteration localCheckpoint/repartition (round 15): each
        # rank table is referenced exactly ONCE (the next round's
        # broadcast build), so the 3-round lineage is a linear chain —
        # every broadcast subtree executes once and the three
        # eager-checkpoint driver round-trips plus three O(nodes)
        # shuffles were pure overhead (guide §2.4 remove shuffles
        # outright; rank determinism is unaffected — the per-dst fold
        # stays DECIMAL(38,18)).  At hundreds of iterations, re-insert
        # a lineage cut every ~20 rounds the way connected_components
        # does.
        rc = r.select(
            "node", (F.col("r") / F.col("d")).cast("decimal(38,18)").alias("c")
        )
        s = (
            ed.select("src", "dst")
            .join(F.broadcast(rc), F.col("src") == F.col("node"))
            .groupBy("dst")
            .agg(F.sum("c").cast("double").alias("s"))
        )
        r = (
            s.crossJoin(nn)
            .join(F.broadcast(dnodes), s.dst == dnodes.src)
            .select(
                F.col("dst").alias("node"),
                (F.lit(0.15) / F.col("n") + F.lit(0.85) * F.col("s"))
                .alias("r"),
                F.col("d"),
            )
        )
    return (
        r.orderBy(F.desc("r"), "node")
        .limit(20)
        .select("node", F.round("r", 8).alias("rank"))
    )


# ---------------------------------------------------------------------------
# dataset profiling + experiment analysis
# ---------------------------------------------------------------------------


@query(
    "profile_columns",
    """
    SELECT 'o_orderkey' AS col_name,
           CAST(count(*) - count(o_orderkey) AS BIGINT) AS n_nulls,
           CAST(count(DISTINCT o_orderkey) AS BIGINT) AS n_distinct,
           CAST(min(o_orderkey) AS DOUBLE) AS min_num,
           CAST(max(o_orderkey) AS DOUBLE) AS max_num
    FROM orders
    UNION ALL
    SELECT 'o_custkey', CAST(count(*) - count(o_custkey) AS BIGINT),
           CAST(count(DISTINCT o_custkey) AS BIGINT),
           CAST(min(o_custkey) AS DOUBLE), CAST(max(o_custkey) AS DOUBLE)
    FROM orders
    UNION ALL
    SELECT 'o_totalprice', CAST(count(*) - count(o_totalprice) AS BIGINT),
           CAST(count(DISTINCT o_totalprice) AS BIGINT),
           min(o_totalprice), max(o_totalprice)
    FROM orders
    UNION ALL
    SELECT 'o_orderstatus', CAST(count(*) - count(o_orderstatus) AS BIGINT),
           CAST(count(DISTINCT o_orderstatus) AS BIGINT),
           CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE)
    FROM orders
    UNION ALL
    SELECT 'o_orderpriority', CAST(count(*) - count(o_orderpriority) AS BIGINT),
           CAST(count(DISTINCT o_orderpriority) AS BIGINT),
           CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE)
    FROM orders
    UNION ALL
    SELECT 'o_orderdate', CAST(count(*) - count(o_orderdate) AS BIGINT),
           CAST(count(DISTINCT o_orderdate) AS BIGINT),
           CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE)
    FROM orders
    """,
)
def profile_columns(spark: SparkSession, sf_dir: str) -> SDF:
    """Table profiling — per-column null count, exact distinct count and
    numeric min/max (the data-quality pass every ingestion pipeline runs
    before training).  The Spark side is ONE aggregate over ONE scan: the
    six distinct counts plan as a single expand-based multi-distinct
    aggregate, and the wide 1-row result unpivots to rows via stack() —
    never six scans (the oracle spells the per-column UNION for clarity;
    DuckDB dedups the scans itself).  At 100 TB swap exact
    count(DISTINCT) for approx_count_distinct per column — same plan
    shape minus the expand."""
    orders = load_table(spark, sf_dir, "orders")

    def nulls(c: str) -> F.Column:
        return F.count(F.lit(1)) - F.count(F.col(c))

    wide = orders.agg(
        *[nulls(c).cast("long").alias(f"nn_{c}") for c in (
            "o_orderkey", "o_custkey", "o_totalprice",
            "o_orderstatus", "o_orderpriority", "o_orderdate",
        )],
        *[F.count_distinct(F.col(c)).cast("long").alias(f"nd_{c}") for c in (
            "o_orderkey", "o_custkey", "o_totalprice",
            "o_orderstatus", "o_orderpriority", "o_orderdate",
        )],
        F.min("o_orderkey").cast("double").alias("min_o_orderkey"),
        F.max("o_orderkey").cast("double").alias("max_o_orderkey"),
        F.min("o_custkey").cast("double").alias("min_o_custkey"),
        F.max("o_custkey").cast("double").alias("max_o_custkey"),
        F.min("o_totalprice").alias("min_o_totalprice"),
        F.max("o_totalprice").alias("max_o_totalprice"),
    )
    rows = ", ".join(
        f"'{c}', nn_{c}, nd_{c}, "
        + (
            f"min_{c}, max_{c}"
            if c in ("o_orderkey", "o_custkey", "o_totalprice")
            else "CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE)"
        )
        for c in (
            "o_orderkey", "o_custkey", "o_totalprice",
            "o_orderstatus", "o_orderpriority", "o_orderdate",
        )
    )
    return wide.selectExpr(
        f"stack(6, {rows}) AS (col_name, n_nulls, n_distinct, min_num, max_num)"
    )


@query(
    "stats_ab_welch",
    """
    WITH g AS (
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS s,
             CAST(sum(CAST(value * value AS DECIMAL(38,6))) AS DOUBLE) AS ss
      FROM events WHERE event_type IN ('click', 'view')
      GROUP BY event_type),
    w AS (
      SELECT event_type, n, s / n AS mean,
             (ss - s * s / n) / nullif(n - 1, 0) AS var
      FROM g),
    p AS (
      SELECT max(CASE WHEN event_type = 'click' THEN n END) AS n_a,
             max(CASE WHEN event_type = 'view' THEN n END) AS n_b,
             max(CASE WHEN event_type = 'click' THEN mean END) AS mean_a,
             max(CASE WHEN event_type = 'view' THEN mean END) AS mean_b,
             max(CASE WHEN event_type = 'click' THEN var END) AS var_a,
             max(CASE WHEN event_type = 'view' THEN var END) AS var_b
      FROM w)
    SELECT n_a, n_b, round(mean_a, 6) AS mean_a, round(mean_b, 6) AS mean_b,
           round(var_a, 6) + 0.0 AS var_a, round(var_b, 6) + 0.0 AS var_b,
           round((mean_a - mean_b)
                 / nullif(sqrt(greatest(var_a / n_a + var_b / n_b, 0.0)), 0),
                 6) AS t_stat
    FROM p
    """,
)
def stats_ab_welch(spark: SparkSession, sf_dir: str) -> SDF:
    """A/B experiment comparison — Welch's t-statistic between two event
    cohorts in ONE aggregation pass: per-group (n, Σx, Σx²) are
    DECIMAL-folded partial aggregates (order-independent, map-side
    combined), mean/variance/t derive in closed form from those three
    sufficient statistics — no second pass, no per-group collect.  The
    identical double arithmetic runs from identical exact sums on both
    engines, so even the t-statistic matches bit-for-bit before the
    display rounding.  The 100 TB shape: a 2-row aggregate over an
    arbitrarily large fact scan."""
    ev = load_table(spark, sf_dir, "events").where(
        F.col("event_type").isin("click", "view")
    )
    g = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("value").cast(_DEC)).cast("double").alias("s"),
        F.sum((F.col("value") * F.col("value")).cast(_DEC))
        .cast("double")
        .alias("ss"),
    )
    w = g.select(
        "event_type",
        "n",
        (F.col("s") / F.col("n")).alias("mean"),
        # nullif guards: a 1-row cohort (n-1 = 0) or two zero-variance
        # cohorts (sqrt = 0) would otherwise kill the job under ANSI
        # division — var/t become NULL instead, matching the oracle
        (
            (F.col("ss") - F.col("s") * F.col("s") / F.col("n"))
            / F.nullif(F.col("n") - 1, F.lit(0))
        ).alias("var"),
    )
    pick = lambda t, c: F.max(F.when(F.col("event_type") == t, F.col(c)))  # noqa: E731
    p = w.agg(
        pick("click", "n").alias("n_a"),
        pick("view", "n").alias("n_b"),
        pick("click", "mean").alias("mean_a"),
        pick("view", "mean").alias("mean_b"),
        pick("click", "var").alias("var_a"),
        pick("view", "var").alias("var_b"),
    )
    # greatest(·, 0): the DECIMAL(38,6) fold can truncate Σx² below
    # (Σx)²/n for tiny constant values, driving var (hence the radicand)
    # a hair negative IDENTICALLY on both engines — but DuckDB's sqrt
    # ABORTS on a negative while Spark returns NaN, so the oracle query
    # would die instead of matching.  Clamp on both sides; the zero
    # result then flows into the existing nullif guard.
    t = (F.col("mean_a") - F.col("mean_b")) / F.nullif(
        F.sqrt(
            F.greatest(
                F.col("var_a") / F.col("n_a") + F.col("var_b") / F.col("n_b"),
                F.lit(0.0),
            )
        ),
        F.lit(0.0),
    )
    return p.select(
        "n_a",
        "n_b",
        F.round("mean_a", 6).alias("mean_a"),
        F.round("mean_b", 6).alias("mean_b"),
        # + 0.0 normalizes IEEE -0.0 from a rounded tiny-negative var
        (F.round("var_a", 6) + F.lit(0.0)).alias("var_a"),
        (F.round("var_b", 6) + F.lit(0.0)).alias("var_b"),
        F.round(t, 6).alias("t_stat"),
    )


@query(
    "agg_approx_topk",
    """
    SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
           true AS sketch_ok
    FROM orders WHERE o_orderpriority IS NOT NULL
    GROUP BY o_orderpriority
    """,
)
def agg_approx_topk(spark: SparkSession, sf_dir: str) -> SDF:
    """approx_top_k (Spark 4.1 sketch-based heavy hitters): fixed-size
    frequency sketch, partial-mergeable, never shuffles raw values — the
    100 TB path for "top domains / top tokens" dashboards where the
    exact two-phase wordcount is overkill.  Oracle contract mirrors
    agg_approx_distinct: the sketch estimate is engine-specific, so the
    output carries the EXACT per-group count plus ``sketch_ok`` = the
    sketch's estimate equals it (k=5 ≥ the column's 5 distinct values
    and maxItemsTracked is ample, so the sketch is provably exact here —
    a broken sketch flips the hashed flag)."""
    # NULL groups are excluded on BOTH sides: approx_top_k skips NULLs,
    # so a NULL priority group could never be matched against the sketch
    orders = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderpriority").isNotNull()
    )
    sk = (
        orders.agg(F.expr("approx_top_k(o_orderpriority, 5, 10000)").alias("tk"))
        .select(F.explode("tk").alias("e"))
        .select(
            F.col("e.item").alias("item"), F.col("e.count").alias("est")
        )
    )
    exact = orders.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n")
    )
    return exact.join(
        F.broadcast(sk), exact.o_orderpriority == sk.item, "left"
    ).select(
        "o_orderpriority",
        "n",
        # a group beyond the sketch's k is untracked (est NULL): the flag
        # claims exactness only for tracked items — coalesce keeps the
        # oracle's constant-true contract from breaking on wider domains
        F.coalesce(F.col("est") == F.col("n"), F.lit(True)).alias("sketch_ok"),
    )


@query(
    "scan_python_datasource",
    """
    WITH src AS (
      SELECT r.range AS id, (r.range * r.range) % 97 AS val
      FROM range(0, 16000) r),
    g AS (SELECT id % 10 AS bucket, CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(val) AS BIGINT) AS sum_val,
                 CAST(min(id) AS BIGINT) AS min_id,
                 CAST(max(id) AS BIGINT) AS max_id
          FROM src GROUP BY id % 10)
    SELECT bucket, n, sum_val, min_id, max_id FROM g
    """,
)
def scan_python_datasource(spark: SparkSession, sf_dir: str) -> SDF:
    """Spark 4 Python DataSource API (pyspark.sql.datasource): a custom
    connector written in pure Python — the extensibility boundary for
    feeding Spark from systems with no JVM driver (internal REST
    services, bespoke file formats, simulation generators).  This
    deterministic sequence source emits 16k (id, id²%97) rows across 8
    partitions; the query aggregates per id-bucket so every partition's
    output lands in the hash.

    Scale: partitions() is the parallelism contract — each partition is
    an independent task-side generator (no driver materialization), the
    exact shape a 1000-executor ingest wants.  Rows yield through Arrow
    batching on the executor; the aggregate after it is ordinary
    JVM-side hash aggregation.  The Python source IS the slow path per
    row — which is the point of the demo: the API exists for sources
    where no faster path exists at all."""
    from pyspark.sql.datasource import (
        DataSource,
        DataSourceReader,
        InputPartition,
    )

    n_parts, per_part = 8, 2000

    class SeqReader(DataSourceReader):
        def partitions(self):
            return [InputPartition(i) for i in range(n_parts)]

        def read(self, partition):
            base = partition.value * per_part
            for i in range(base, base + per_part):
                yield (i, (i * i) % 97)

    class SeqSource(DataSource):
        @classmethod
        def name(cls):
            return "spark_graft_seqsrc"

        def schema(self):
            return "id BIGINT, val BIGINT"

        def reader(self, schema):
            return SeqReader()

    spark.dataSource.register(SeqSource)
    src = spark.read.format("spark_graft_seqsrc").load()
    return src.groupBy((F.col("id") % 10).alias("bucket")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("val").alias("sum_val"),
        F.min("id").alias("min_id"),
        F.max("id").alias("max_id"),
    )


@query(
    "stream_python_datasource",
    """
    WITH src AS (
      SELECT r.range AS id, (r.range * r.range) % 97 AS val
      FROM range(0, 5000) r)
    SELECT id % 10 AS bucket, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(val) AS BIGINT) AS sum_val,
           CAST(max(id) AS BIGINT) AS max_id
    FROM src GROUP BY id % 10
    """,
)
def stream_python_datasource(spark: SparkSession, sf_dir: str) -> SDF:
    """Spark 4 Python STREAMING DataSource (SimpleDataSourceStreamReader):
    a custom micro-batch source written in pure Python — the connector
    boundary for streaming systems with no JVM driver.  This
    deterministic sequence source serves 5 offset-tracked micro-batches
    of 1000 (id, id²%97) rows; the query drains it to a memory sink with
    ``processAllAvailable`` (AvailableNow snapshots only the FIRST
    simple-reader batch — probed, not assumed) and aggregates per
    id-bucket so every batch lands in the hash.

    Scale: offsets are the exactly-once contract — Spark checkpoints
    {offset} per batch and replays ``readBetweenOffsets`` on recovery,
    so the source restarts mid-stream without dropping or double-reading
    rows; the aggregate itself is ordinary JVM hash aggregation over
    whatever the batches delivered."""
    import os
    import shutil
    import uuid

    from pyspark.sql.datasource import (
        DataSource,
        SimpleDataSourceStreamReader,
    )

    cap, per_batch = 5000, 1000

    class SeqStreamReader(SimpleDataSourceStreamReader):
        def initialOffset(self):
            return {"offset": 0}

        def read(self, start):
            s = start["offset"]
            if s >= cap:
                return iter([]), start
            e = min(s + per_batch, cap)
            return iter([(i, (i * i) % 97) for i in range(s, e)]), {"offset": e}

        def readBetweenOffsets(self, start, end):
            return iter(
                [(i, (i * i) % 97) for i in range(start["offset"], end["offset"])]
            )

    class SeqStreamSource(DataSource):
        @classmethod
        def name(cls):
            return "spark_graft_seqstream"

        def schema(self):
            return "id BIGINT, val BIGINT"

        def simpleStreamReader(self, schema):
            return SeqStreamReader()

    spark.dataSource.register(SeqStreamSource)
    tag = uuid.uuid4().hex[:10]
    base = "/dev/shm" if os.path.isdir("/dev/shm") else None
    ckpt = (
        f"{base}/spark_graft_pysrc_{tag}" if base else f"/tmp/spark_graft_pysrc_{tag}"
    )
    sink = f"pysrc_sink_{tag}"
    q = (
        spark.readStream.format("spark_graft_seqstream")
        .load()
        .writeStream.format("memory")
        .queryName(sink)
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
        shutil.rmtree(ckpt, ignore_errors=True)
    # materialize the drained rows OFF the memory sink, then drop the
    # sink table — otherwise every invocation leaks one uuid-named
    # in-memory table on the driver for the session's lifetime (bench
    # runs this dozens of times).  The checkpoint blocks free when this
    # plan is GC'd, unlike a catalog table.
    drained = spark.table(sink).localCheckpoint(eager=True)
    spark.catalog.dropTempView(sink)
    return (
        drained.groupBy((F.col("id") % 10).alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("val").alias("sum_val"),
            F.max("id").alias("max_id"),
        )
    )
