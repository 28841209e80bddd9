"""``dsl_nested``: seeded capture-DSL queries over the nested views.

One round is eight ops, one per query shape below, in a seeded order.
Each shape's thresholds and output width are fixed; the seed picks only
among choices of equal selectivity (a return flag, a customer segment),
so every seed does the same amount of work on its own data.  Drawing
thresholds and widths per seed made the median op time move with the
seed by up to 40% in trial runs.  Shapes vary the nesting depth
(orders → items, customer → orders → items), the output width and the
mask/aggregate kind.  The three ``semi_*`` ops share one captured frame:
a semi-join of orders on a customer segment.  The first of them in a
round lowers it; the other two re-lower the same captured node, which
the lowering persists on its second use.  That is the reuse share:
2 of 8 ops (25%) re-lower a frame captured in an earlier op; the other
6 share nothing.  Persisted frames are released after every round.

Each shape also renders itself as DuckDB SQL over nested tables that
DuckDB builds from the same parquet (``DUCK_NESTED``), which is the
independent check.
"""

from __future__ import annotations

from .check import Repeats, mismatch
from .workload import Workload

SHAPES = ("count_cut", "mask_count", "mask_sum", "map_mean", "two_level",
          "semi_0", "semi_1", "semi_2")

EXTRA_COLS = ("o_totalprice", "o_orderpriority", "o_orderdate")

DEC = "DECIMAL(38,6)"


def _dsum(lst: str, expr: str) -> str:
    """DuckDB exact sum of ``expr`` over list ``lst`` (element ``x``)."""
    return (f"COALESCE(CAST(list_sum(list_transform({lst}, x -> "
            f"CAST({expr} AS {DEC}))) AS DOUBLE), 0.0)")


def make_specs(rng) -> "list[dict]":
    """The round's ops: shape plus constants, in seeded order."""
    segment = str(rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE",
                              "HOUSEHOLD", "MACHINERY"]))
    specs = {
        "count_cut": {"k": 7, "width": 3},
        "mask_count": {"q": 40, "m": 2, "width": 1},
        "mask_sum": {"disc": 0.02, "width": 0},
        "map_mean": {"flag": str(rng.choice(["A", "N", "R"]))},
        "two_level": {"p": 400_000, "q": 32},
    }
    for i, k in enumerate((5, 6, 7)):
        specs[f"semi_{i}"] = {"segment": segment, "k": k}
    order = list(SHAPES)
    rng.shuffle(order)
    return [dict(shape=s, **specs[s]) for s in order]


# ---------------------------------------------------------------------------
# capture: spec -> (bindings, frame, columns)
# ---------------------------------------------------------------------------


def capture(spec: dict, views: dict, shared: dict):
    from dataframe_expressions_spark import DataFrame

    shape = spec["shape"]
    d = DataFrame()
    if shape == "count_cut":
        cols = {"o_orderkey": d.o_orderkey, "n_items": d.items.Count()}
        for c in EXTRA_COLS[: spec["width"]]:
            cols[c] = getattr(d, c)
        return {d: views["orders"]}, d[d.items.Count() > spec["k"]], cols
    if shape == "mask_count":
        big = d.items[d.items.l_quantity > spec["q"]]
        cols = {"o_orderkey": d.o_orderkey, "n_big": big.Count()}
        for c in EXTRA_COLS[: spec["width"]]:
            cols[c] = getattr(d, c)
        return {d: views["orders"]}, d[big.Count() > spec["m"]], cols
    if shape == "mask_sum":
        big = d.items[d.items.l_discount < spec["disc"]]
        cols = {"o_orderkey": d.o_orderkey,
                "rev": big.l_extendedprice.Sum(),
                "max_q": big.l_quantity.Max(),
                "min_q": big.l_quantity.Min()}
        for c in EXTRA_COLS[: spec["width"]]:
            cols[c] = getattr(d, c)
        return {d: views["orders"]}, d[big.Count() > 1], cols
    if shape == "map_mean":
        big = d.items[d.items.l_returnflag == spec["flag"]]
        net = big.map(lambda it: it.l_extendedprice * (1 - it.l_discount))
        cols = {"o_orderkey": d.o_orderkey, "net": net.Sum(),
                "mean_q": big.l_quantity.Mean()}
        return {d: views["orders"]}, d[big.Count() > 2], cols
    if shape == "two_level":
        bo = d.orders[d.orders.o_totalprice > spec["p"]]
        bi = bo.items[bo.items.l_quantity > spec["q"]]
        cols = {"c_custkey": d.c_custkey, "n_big_orders": bo.Count(),
                "n_big_items": bi.Count().Sum(),
                "rev": bi.l_extendedprice.Sum().Sum()}
        return {d: views["customer_nested"]}, d[bo.Count() > 2], cols
    # semi_*: re-lower the round's shared captured semi-join frame
    if "semi" not in shared:
        c = DataFrame()
        seg = c[c.c_mktsegment == spec["segment"]]
        j = d.join(seg, on=d.o_custkey == seg.c_custkey, how="left_semi")
        shared["semi"] = ({d: views["orders"], c: views["customer"]}, j)
    bindings, j = shared["semi"]
    cols = {"o_orderkey": j.o_orderkey, "n_items": j.items.Count()}
    if shape == "semi_1":
        cols["o_totalprice"] = j.o_totalprice
    if shape == "semi_2":
        cols["rev"] = j.items.l_extendedprice.Sum()
    return bindings, j[j.items.Count() > spec["k"]], cols


def count_nodes(*roots) -> int:
    """Distinct capture nodes reachable from the given ones."""
    from dataframe_expressions_spark.plans.nodes import Node

    seen, todo = set(), list(roots)
    while todo:
        n = todo.pop()
        if isinstance(n, dict):
            todo.extend(n.values())
            continue
        if not isinstance(n, Node) or id(n) in seen:
            continue
        seen.add(id(n))
        todo.extend(a for a in n.args if isinstance(a, (Node, dict)))
        todo.extend(v for a in n.args if isinstance(a, (list, tuple))
                    for v in a)
    return len(seen)


# ---------------------------------------------------------------------------
# independent SQL
# ---------------------------------------------------------------------------

DUCK_NESTED = """
CREATE TABLE dn_orders AS
SELECT o.*, li.items FROM orders o JOIN (
  SELECT l_orderkey,
         list(struct_pack(l_linenumber := l_linenumber,
                          l_quantity := l_quantity,
                          l_extendedprice := l_extendedprice,
                          l_discount := l_discount, l_tax := l_tax,
                          l_returnflag := l_returnflag,
                          l_shipdate := l_shipdate)) AS items
  FROM lineitem GROUP BY l_orderkey) li ON li.l_orderkey = o.o_orderkey;
CREATE TABLE dn_customer AS
SELECT c.*, co.orders FROM customer c JOIN (
  SELECT o_custkey,
         list(struct_pack(o_orderkey := o_orderkey,
                          o_totalprice := o_totalprice,
                          items := items)) AS orders
  FROM dn_orders GROUP BY o_custkey) co ON co.o_custkey = c.c_custkey;
"""


def sql(spec: dict) -> str:
    shape = spec["shape"]
    if shape == "count_cut":
        extra = "".join(f", {c}" for c in EXTRA_COLS[: spec["width"]])
        return (f"SELECT o_orderkey, len(items) AS n_items{extra} "
                f"FROM dn_orders WHERE len(items) > {spec['k']}")
    if shape == "mask_count":
        extra = "".join(f", {c}" for c in EXTRA_COLS[: spec["width"]])
        return (f"WITH f AS (SELECT *, list_filter(items, x -> "
                f"x.l_quantity > {spec['q']}) AS big FROM dn_orders) "
                f"SELECT o_orderkey, len(big) AS n_big{extra} FROM f "
                f"WHERE len(big) > {spec['m']}")
    if shape == "mask_sum":
        extra = "".join(f", {c}" for c in EXTRA_COLS[: spec["width"]])
        return (f"WITH f AS (SELECT *, list_filter(items, x -> "
                f"x.l_discount < {spec['disc']}) AS big FROM dn_orders) "
                f"SELECT o_orderkey, {_dsum('big', 'x.l_extendedprice')} "
                f"AS rev, list_max(list_transform(big, x -> x.l_quantity)) "
                f"AS max_q, list_min(list_transform(big, x -> "
                f"x.l_quantity)) AS min_q{extra} FROM f WHERE len(big) > 1")
    if shape == "map_mean":
        return (f"WITH f AS (SELECT *, list_filter(items, x -> "
                f"x.l_returnflag = '{spec['flag']}') AS big FROM dn_orders) "
                f"SELECT o_orderkey, "
                f"{_dsum('big', 'x.l_extendedprice * (1 - x.l_discount)')} "
                f"AS net, {_dsum('big', 'x.l_quantity')} / len(big) "
                f"AS mean_q FROM f WHERE len(big) > 2")
    if shape == "two_level":
        inner = _dsum("x", "x.l_extendedprice")
        return (f"WITH f AS (SELECT c_custkey, list_filter(orders, o -> "
                f"o.o_totalprice > {spec['p']}) AS bo FROM dn_customer), "
                f"g AS (SELECT c_custkey, bo, list_transform(bo, o -> "
                f"list_filter(o.items, x -> x.l_quantity > {spec['q']})) "
                f"AS bi FROM f WHERE len(bo) > 2) "
                f"SELECT c_custkey, len(bo) AS n_big_orders, "
                f"{_dsum('bi', 'len(x)')} AS n_big_items, "
                f"{_dsum('bi', inner)} AS rev FROM g")
    extra = {"semi_0": "", "semi_1": ", o_totalprice",
             "semi_2": f", {_dsum('items', 'x.l_extendedprice')} AS rev"}
    return (f"SELECT o_orderkey, len(items) AS n_items{extra[shape]} "
            f"FROM dn_orders WHERE len(items) > {spec['k']} AND o_custkey IN "
            f"(SELECT c_custkey FROM customer WHERE c_mktsegment = "
            f"'{spec['segment']}')")


class DslNested(Workload):
    name = "dsl_nested"
    sf = 0.01
    round_s = 4.0

    def setup(self, ctx) -> None:
        from dataframe_expressions_spark.sources.tables import (
            customer_nested, load_table, orders_nested)

        with ctx.tracer.span("sources.tables.view_build"):
            orders = orders_nested(ctx.spark, ctx.data_dir)
            cust_nested = customer_nested(ctx.spark, ctx.data_dir)
        self.views = {"orders": orders, "customer_nested": cust_nested,
                      "customer": load_table(ctx.spark, ctx.data_dir,
                                             "customer")}
        self.specs = make_specs(ctx.rng)
        self._shared = {}
        self.repeats = Repeats()

    def ops(self) -> "list[dict]":
        return self.specs

    def label(self, spec: dict) -> str:
        return spec["shape"]

    def run(self, ctx, spec: dict):
        from dataframe_expressions_spark import select_from

        with ctx.phase("plans.capture"):
            bindings, frame, cols = capture(spec, self.views, self._shared)
        if ctx.tracer.on:
            ctx.tracer.add("plans.capture_nodes", count_nodes(frame, cols))
        with ctx.phase("plans.lower"):
            df = select_from(bindings, frame, **cols)
        with ctx.phase("catalyst.plan"):
            ctx.plan(df)
        with ctx.phase("exec.run"):
            return df.toPandas()

    def after(self, ctx, spec: dict, out) -> "list[str]":
        return self.repeats.add(self.label(spec), spec, out)

    def end_round(self, ctx) -> None:
        from dataframe_expressions_spark import unpersist_points
        from dataframe_expressions_spark.plans import lowering

        ctx.tracer.add("plans.persisted_frames",
                       len(lowering._PERSIST_REGISTRY))
        unpersist_points(blocking=True)
        self._shared = {}

    def check(self, ctx) -> "list[str]":
        con = ctx.duck()
        con.execute(DUCK_NESTED)
        bad = []
        for label, (spec, got) in self.repeats.firsts.items():
            diff = mismatch(got, con.execute(sql(spec)).df())
            if diff:
                bad.append(f"{label}: {diff}")
        con.close()
        return bad
