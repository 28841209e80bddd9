"""Lowering: capture-node DAG → PySpark logical plan.

The Spark-native analogue of the reference's render pass (reference:
``render.py`` — recursive walk with a memo table so the same source node
always renders to the *identical* output object, giving backends CSE
identity; ``render_callable`` re-enters the machinery for deferred
lambdas).  Here:

* memoization keys on capture-node identity (``id(node)``) and returns the
  identical lowered object — shared sub-DAGs lower once, so a shared heavy
  subplan becomes ONE Spark ``Column``/``DataFrame`` object and Catalyst
  sees the sharing;
* instead of emitting a Python ``ast`` for an external backend, we emit
  ``pyspark.sql.Column`` trees directly and let Catalyst do predicate
  pushdown / pruning / codegen (the reference had no optimizer at all —
  SURVEY.md §4);
* nested-collection semantics (the reference's raison d'être: per-event
  variable-length collections) lower to Spark higher-order functions:
  ``F.transform`` (per-element projection), ``F.filter`` (per-element
  mask), ``F.size`` / ``F.aggregate`` (nested aggregates).  All JVM-side,
  whole-stage-codegen friendly — no Python in the hot path.

Level inference is schema-driven and deferred until lowering (the
reference defers it to the backend): an attribute that resolves to an
``ArrayType`` column is a collection; attribute access on a collection
becomes a per-element expression; mixing a per-event scalar into a
per-element lambda is legal (Spark HOF lambdas may reference outer row
columns).
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Any, Callable, Dict, Optional

from pyspark.sql import Column as SCol
from pyspark.sql import DataFrame as SDF
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .nodes import Column, DataFrame, Node

__all__ = [
    "Lowerer",
    "to_spark",
    "select",
    "select_from",
    "unpersist_points",
]

# Frames materialized by ``.persist_point()`` (module-wide: the whole
# point is reuse ACROSS lowering contexts, so the lifecycle can't live
# on any one Lowerer).  Released by ``unpersist_points()``.
_PERSIST_REGISTRY: list = []

# Cross-ACTION reuse tracker for the cost-gated AUTO-persist (round 10,
# r9 VERDICT item 7): node id → (node keepalive, set of Lowerer ids that
# lowered it).  Within one Lowerer the memo table already dedups, so a
# second entry here means a second lowering SESSION — the per-action
# boundary capture-time memoization and Catalyst CSE both stop at.  The
# node keepalive makes id() reuse detectable (`is` check) instead of a
# silent false positive; sessions are identified by a monotonic counter,
# NOT id(Lowerer) — CPython reuses a freed Lowerer's address immediately,
# which made the second session look like the first (round-10 debug).
_CROSS_ACTION_FRAMES: dict = {}
_SESSION_COUNTER = iter(range(1, 1 << 62))
# Bound the tracker (round-10 review): each entry keeps its node graph
# alive, and a long-lived driver lowering thousands of one-shot queries
# (bench.py builds a fresh capture graph per query per pass) would
# otherwise grow it forever.  Insertion-ordered eviction: forgetting an
# old node only forfeits a future persist opportunity — conservative.
_CROSS_ACTION_CAP = 4096


def unpersist_points(blocking: bool = False) -> int:
    """Release every materialization point created by
    ``DataFrame.persist_point()`` lowering OR the cost-gated auto
    persist; returns how many were released.  Also resets the
    cross-action reuse tracker.  Safe to call with a stopped session
    (failures to unpersist a dead frame are swallowed — the cache died
    with the session)."""
    _CROSS_ACTION_FRAMES.clear()
    n = 0
    while _PERSIST_REGISTRY:
        df = _PERSIST_REGISTRY.pop()
        try:
            df.unpersist(blocking)
            n += 1
        except Exception:  # noqa: BLE001 — session already stopped
            pass
    return n


# ---------------------------------------------------------------------------
# Lowered value kinds
# ---------------------------------------------------------------------------


@dataclass
class LFrame:
    """An event set: the base Spark DataFrame with event-level filters."""

    df: SDF


@dataclass
class LCol:
    """A per-event column expression (scalar or array-typed collection)."""

    col: SCol
    is_collection: bool = False
    elem_type: Optional[T.DataType] = None  # element type when is_collection


@dataclass
class LGrouped:
    """A grouped event set: the pre-aggregation DataFrame plus the lowered
    grouping keys (``.agg(...)`` is the only legal next step — the Spark
    ``GroupedData`` shape, captured)."""

    df: SDF
    keys: list  # of pyspark Columns


@dataclass
class LPivoted:
    """A grouped-and-pivoted event set (``.groupby(...).pivot(...)``):
    ``.agg(...)`` is the only legal next step.  ``values`` is the
    EXPLICIT pivot value list — required, so the plan never runs the
    distinct-values discovery job and the output schema is static (the
    cluster discipline of the tier-4 pivot_wide operator)."""

    df: SDF
    keys: list  # of pyspark Columns
    pivot_col: str
    values: list
    names: Optional[list] = None  # output aliases, parallel to values
    default: Any = None  # fill for absent (group, value) combinations


@dataclass
class LElem:
    """A per-element expression over a collection: ``fn`` maps the lambda
    variable (one element) to a Spark Column.  ``source`` is the capture
    node of the collection it ranges over."""

    source: Node
    fn: Callable[[SCol], SCol]
    elem_type: Optional[T.DataType] = None


# numpy-ufunc name → pyspark.sql.functions name
_UFUNC_MAP = {
    "abs": "abs",
    "absolute": "abs",
    "sqrt": "sqrt",
    "sin": "sin",
    "cos": "cos",
    "tan": "tan",
    "arcsin": "asin",
    "arccos": "acos",
    "arctan": "atan",
    "exp": "exp",
    "log": "log",
    "log10": "log10",
    "log2": "log2",
    "floor": "floor",
    "ceil": "ceil",
    "rint": "round",
    "sign": "signum",
}

_BIN_OPS: Dict[str, Callable[[Any, Any], Any]] = {
    "+": lambda a, b: a + b,
    "-": lambda a, b: a - b,
    "*": lambda a, b: a * b,
    "/": lambda a, b: a / b,
    "**": lambda a, b: a**b,
    "%": lambda a, b: a % b,
}

_CMP_OPS: Dict[str, Callable[[Any, Any], Any]] = {
    "<": lambda a, b: a < b,
    "<=": lambda a, b: a <= b,
    ">": lambda a, b: a > b,
    ">=": lambda a, b: a >= b,
    "==": lambda a, b: a == b,
    "!=": lambda a, b: a != b,
}


class LoweringError(TypeError):
    pass


class Lowerer:
    """One lowering session: a root capture node bound to a Spark DataFrame.

    Memoized like the reference's ``render_context`` (reference:
    ``render.py`` memo table): ``lower()`` on the same node object returns
    the identical lowered object.
    """

    def __init__(
        self,
        root: DataFrame,
        base_df: SDF,
        others: Optional[dict] = None,
    ) -> None:
        """``others`` (round-7, SURVEY §7 M4): additional root-node →
        Spark-DataFrame bindings, so one lowering session can span the
        several base tables a captured ``d.join(d2, on=...)`` references.
        The reference is strictly single-source (DataFrame.py has no join
        node; SURVEY §7 M4 names this the design extension), so the
        single-root signature stays the default."""
        self.root = root
        self.base_df = base_df
        self._bindings: Dict[int, SDF] = {id(root): base_df}
        for r, df in (others or {}).items():
            self._bindings[id(r)] = df
        self._memo: Dict[int, Any] = {}
        self._keepalive = [root, *list((others or {}))]  # id() reuse guard
        self._session_seq = next(_SESSION_COUNTER)  # cross-action identity
        self._auto_persisted = False  # at most one auto-persist per session

    # -- public entry points ------------------------------------------------

    def frame(self, node: DataFrame) -> SDF:
        """Lower a node that denotes an event set."""
        low = self.lower(node)
        if isinstance(low, LFrame):
            return low.df
        raise LoweringError(f"Node does not denote an event frame: {node!r}")

    def column(self, node: Node) -> SCol:
        """Lower a node that denotes a per-event value (materializing
        per-element expressions to array columns via ``F.transform``)."""
        return self._materialize(self.lower(node)).col

    # -- core ---------------------------------------------------------------

    def lower(self, node: Any) -> Any:
        if not isinstance(node, Node):
            return node  # literal
        key = id(node)
        if key in self._memo:
            return self._memo[key]
        result = self._lower_uncached(node)
        if isinstance(result, LFrame):
            self._maybe_auto_persist(node, result)
        self._memo[key] = result
        self._keepalive.append(node)
        return result

    def _maybe_auto_persist(self, node: Node, low: LFrame) -> None:
        """Cost-gated AUTO-persist (round 10 — the automatic variant of
        ``.persist_point()``): when the SAME captured frame node lowers
        in a SECOND Lowerer session (= it feeds a second action — memo
        identity covers reuse within one action, Catalyst CSE within one
        plan, but nothing covered the cross-action boundary without the
        user remembering to call persist_point), persist it so the
        second and later actions swap in an InMemoryTableScan instead of
        recomputing the subplan.

        The gate (all driver-side, plan-stats only — no job):
        * compute-carrying plans only (Join/Aggregate/Window/Expand/
          Generate in the optimized plan): a bare filtered scan re-reads
          CHEAPER than it caches — pushdown + pruning make the rescan
          narrow, while the cache stores materialized rows;
        * estimated size within [SPARK_GRAFT_AUTO_PERSIST_MIN_BYTES,
          SPARK_GRAFT_AUTO_PERSIST_MAX_BYTES] (default 1 MiB … 64 GiB):
          below, the recompute is cheaper than cache bookkeeping; above,
          MEMORY_AND_DISK would spill the whole frame to executor disk —
          at 100 TB that write amplification loses to re-scanning a
          columnar source (a user who knows better says
          ``.persist_point()`` explicitly);
        * kill switch SPARK_GRAFT_AUTO_PERSIST=0.

        Lifecycle matches persist_point: tracked module-wide, released
        by ``unpersist_points()``."""
        import os

        if os.environ.get("SPARK_GRAFT_AUTO_PERSIST") == "0":
            return
        rec = _CROSS_ACTION_FRAMES.get(id(node))
        if rec is None or rec[0] is not node:  # new node (or id() reuse)
            while len(_CROSS_ACTION_FRAMES) >= _CROSS_ACTION_CAP:
                _CROSS_ACTION_FRAMES.pop(
                    next(iter(_CROSS_ACTION_FRAMES))
                )
            _CROSS_ACTION_FRAMES[id(node)] = (node, {self._session_seq})
            return
        sessions = rec[1]
        if self._session_seq in sessions:
            return
        sessions.add(self._session_seq)
        if self._auto_persisted:
            # one persist per session, at the DEEPEST reused frame
            # (lowering is bottom-up, so the first qualifying frame IS
            # the shared subplan both actions recompute) — persisting
            # every ancestor above it too would stack overlapping
            # MEMORY_AND_DISK caches of near-identical data (round-10
            # review)
            return
        df = low.df
        try:
            if df.storageLevel.useMemory or df.storageLevel.useDisk:
                return  # already persisted (explicit persist_point)
            # Gate on the ANALYZED plan, never optimizedPlan: forcing the
            # dataset's own optimizedPlan lazy val here would freeze a
            # cache-FREE plan into this QueryExecution before persist()
            # registers the cache entry — the very action we persist for
            # would then never read the cache (round-10 debug).  Cache
            # substitution applies post-analysis, so analyzed() is safe
            # to force.
            plan = df._jdf.queryExecution().analyzed()
            plan_str = plan.toString()
            # match NODE names at tree position (start of line after the
            # tree-drawing prefix), not raw substrings — a column alias
            # containing "Join"/"Window" must not make a bare scan look
            # compute-carrying (round-10 review)
            import re

            if not re.search(
                r"(?m)^[\s:+\-*()\d]*(Join\b|Aggregate\b|Window\b|"
                r"Expand\b|Generate\b)",
                plan_str,
            ):
                return  # pushdown-friendly scan: rescan beats caching
            size = int(plan.stats().sizeInBytes())
            if size >= 2**62:  # unknown propagates as ~Long.MaxValue
                return
        except Exception:  # noqa: BLE001 — streaming/unresolvable: skip
            return
        lo = int(os.environ.get(
            "SPARK_GRAFT_AUTO_PERSIST_MIN_BYTES", str(1 << 20)
        ))
        hi = int(os.environ.get(
            "SPARK_GRAFT_AUTO_PERSIST_MAX_BYTES", str(64 << 30)
        ))
        if not (lo <= size <= hi):
            return
        from pyspark import StorageLevel

        df.persist(StorageLevel.MEMORY_AND_DISK)
        _PERSIST_REGISTRY.append(df)
        self._auto_persisted = True

    def _lower_uncached(self, node: Node) -> Any:
        op = node.op
        if op == "root":
            bound = self._bindings.get(id(node))
            if bound is None:
                raise LoweringError(
                    "Expression references a root DataFrame() not bound to "
                    "this lowering (bind join sources via Lowerer(..., "
                    "others={d2: df2}) or select_from)"
                )
            return LFrame(bound)
        if op == "attr":
            return self._lower_attr(node)
        if op == "filter":
            return self._lower_filter(node)
        if op == "bin":
            opname, left, right = node.args
            return self._lift_binary(_BIN_OPS[opname], left, right)
        if op == "cmp":
            opname, left, right = node.args
            return self._lift_binary(_CMP_OPS[opname], left, right)
        if op in ("and", "or"):
            fn = (lambda a, b: a & b) if op == "and" else (lambda a, b: a | b)
            return self._lift_binary(fn, node.args[0], node.args[1])
        if op == "not":
            return self._lift_unary(lambda a: ~a, node.args[0])
        if op == "ufunc":
            return self._lower_ufunc(node)
        if op == "call":
            return self._lower_call(node)
        if op == "udf":
            return self._lower_udf(node)
        if op == "elemvar":
            (collection,) = node.args
            low = self.lower(collection)
            if not (isinstance(low, LCol) and low.is_collection):
                raise LoweringError("elemvar over a non-collection")
            return LElem(collection, lambda e: e, low.elem_type)
        raise LoweringError(f"Unknown capture op: {op}")

    # -- attribute resolution (schema-driven level inference) ---------------

    def _lower_attr(self, node: Node) -> Any:
        parent_node, name = node.args
        parent = self.lower(parent_node)
        if isinstance(parent, LFrame):
            try:
                field = parent.df.schema[name]
            except KeyError:
                raise LoweringError(
                    f"Column {name!r} not found in schema "
                    f"{[f.name for f in parent.df.schema.fields]}"
                ) from None
            # BOUND reference (df[name], not F.col(name)) — round 7: with
            # join capture, two roots can carry same-named columns, and
            # only dataframe-bound refs disambiguate after the join
            # (identical analyzed plan for the single-root paths)
            if isinstance(field.dataType, T.ArrayType):
                return LCol(parent.df[name], True, field.dataType.elementType)
            return LCol(parent.df[name])
        if isinstance(parent, LCol):
            if parent.is_collection:
                et = parent.elem_type
                sub = self._struct_field_type(et, name)
                return LElem(parent_node, lambda e: e[name], sub)
            return LCol(parent.col[name])
        if isinstance(parent, LElem):
            if isinstance(parent.elem_type, T.ArrayType):
                # Collection-valued per-element expression (two-level
                # nesting, e.g. customer.orders[i].items): attribute access
                # descends INTO the inner collection — this attr node
                # becomes the new, one-level-deeper source (reference
                # semantics: d.jets.tracks.pt ranges over tracks).
                sub = self._struct_field_type(parent.elem_type.elementType, name)
                return LElem(parent_node, lambda ie: ie[name], sub)
            et = self._struct_field_type(parent.elem_type, name)
            pfn = parent.fn
            return LElem(parent.source, lambda e: pfn(e)[name], et)
        raise LoweringError(f"Cannot project attribute {name!r} from {parent!r}")

    @staticmethod
    def _struct_field_type(
        elem_type: Optional[T.DataType], name: str
    ) -> Optional[T.DataType]:
        if isinstance(elem_type, T.StructType):
            try:
                return elem_type[name].dataType
            except KeyError:
                raise LoweringError(
                    f"Field {name!r} not in element struct "
                    f"{[f.name for f in elem_type.fields]}"
                ) from None
        return None

    # -- filters --------------------------------------------------------------

    def _lower_filter(self, node: Node) -> Any:
        parent_node, mask_node = node.args
        parent = self.lower(parent_node)
        mask = self.lower(mask_node)
        if isinstance(parent, LFrame):
            if not isinstance(mask, LCol):
                raise LoweringError(
                    "Event-level filter requires an event-level boolean mask "
                    "(a per-element mask must be applied to the collection, "
                    "or aggregated with .Count() first)"
                )
            return LFrame(parent.df.where(mask.col))
        if isinstance(parent, LCol) and parent.is_collection:
            if isinstance(mask, LElem):
                self._check_same_family(mask.source, parent_node)
                return LCol(F.filter(parent.col, mask.fn), True, parent.elem_type)
            if isinstance(mask, LCol):
                # event-level condition filtering a collection: all-or-nothing
                return LCol(
                    F.when(mask.col, parent.col).otherwise(
                        F.array().cast(T.ArrayType(parent.elem_type))
                    ),
                    True,
                    parent.elem_type,
                )
        if isinstance(parent, LElem) and isinstance(parent.elem_type, T.ArrayType):
            # Filtering an INNER collection (two-level nesting): the mask
            # must range over this collection-valued node; the result stays
            # a collection-valued expression at the same outer level.
            if isinstance(mask, LElem):
                self._check_same_family(mask.source, parent_node)
                pfn, mfn = parent.fn, mask.fn
                return LElem(
                    parent.source, lambda e: F.filter(pfn(e), mfn), parent.elem_type
                )
        raise LoweringError(f"Cannot apply filter to {parent!r}")

    def _check_same_family(self, mask_source: Node, collection: Node) -> None:
        """The mask must range over the collection being filtered (or an
        ancestor of it through pure filters) — same discipline the
        reference enforces structurally at render (reference: render.py,
        parent-binding of filter masks)."""
        seen = set()
        cur: Any = collection
        while isinstance(cur, Node):
            seen.add(id(cur))
            if cur.op == "filter":
                cur = cur.args[0]
            else:
                break
        anc: Any = mask_source
        while isinstance(anc, Node):
            if id(anc) in seen:
                return
            if anc.op == "filter":
                anc = anc.args[0]
            else:
                break
        # Identity failed — fall back to the filter-stripped attr SPINE
        # (round-10 peel: rebuilding an element filter on the unfiltered
        # base makes the mask's source chain differ from the collection's
        # by a frame filter buried BENEATH an attr, which the pure-filter
        # ancestor walk above cannot see; attr memoization is per parent,
        # so the stripped nodes are distinct objects but the same family).
        sp_m, sp_c = self._attr_spine(mask_source), self._attr_spine(collection)
        if sp_m is not None and sp_m == sp_c:
            return
        raise LoweringError(
            "Per-element mask ranges over a different collection than "
            "the one being filtered"
        )

    @staticmethod
    def _attr_spine(node: Any):
        """``(id(root), (attr names, outermost last))`` with filter nodes
        transparent at every level; ``None`` when the chain contains any
        other op (no structural identity to compare)."""
        names: list = []
        cur = node
        while isinstance(cur, Node):
            if cur.op == "filter":
                cur = cur.args[0]
            elif cur.op == "attr":
                names.append(cur.args[1])
                cur = cur.args[0]
            elif cur.op == "root":
                return (id(cur), tuple(reversed(names)))
            else:
                return None
        return None

    # -- operator lifting (scalar / element level polymorphism) ---------------

    def _lift_binary(self, fn: Callable[[Any, Any], Any], left: Any, right: Any):
        l, r = self.lower(left), self.lower(right)
        if isinstance(l, LElem) or isinstance(r, LElem):
            source = l.source if isinstance(l, LElem) else r.source
            if (
                isinstance(l, LElem)
                and isinstance(r, LElem)
                and l.source is not r.source
            ):
                self._check_same_family(r.source, l.source)
            lf = self._as_elem_fn(l)
            rf = self._as_elem_fn(r)
            return LElem(source, lambda e: fn(lf(e), rf(e)))
        lv = l.col if isinstance(l, LCol) else self._lit(l)
        rv = r.col if isinstance(r, LCol) else self._lit(r)
        return LCol(fn(lv, rv))

    def _lift_unary(self, fn: Callable[[Any], Any], operand: Any):
        v = self.lower(operand)
        if isinstance(v, LElem):
            vf = v.fn
            return LElem(v.source, lambda e: fn(vf(e)))
        if isinstance(v, LCol):
            return LCol(fn(v.col))
        return LCol(fn(self._lit(v)))

    @staticmethod
    def _lit(value: Any) -> Any:
        # Spark Column operators accept plain literals; keep them raw so
        # e.g. `30 > col` reverses correctly via Column.__gt__.
        return F.lit(value)

    def _as_elem_fn(self, low: Any) -> Callable[[SCol], SCol]:
        if isinstance(low, LElem):
            return low.fn
        if isinstance(low, LCol):
            col = low.col  # outer-row reference inside the HOF lambda
            return lambda e: col
        lit = self._lit(low)
        return lambda e: lit

    # -- ufuncs ----------------------------------------------------------------

    def _lower_ufunc(self, node: Node) -> Any:
        name = node.args[0]
        spark_name = _UFUNC_MAP.get(name)
        if spark_name is None:
            raise LoweringError(f"Unsupported ufunc: numpy.{name}")
        base = getattr(F, spark_name)
        if spark_name in ("floor", "ceil"):
            # numpy floor/ceil are double→double; Spark's return bigint
            sfn = lambda c: base(c).cast(T.DoubleType())  # noqa: E731
        else:
            sfn = base
        operands = node.args[1:]
        if len(operands) == 1:
            return self._lift_unary(sfn, operands[0])
        return self._lift_binary(lambda a, b: sfn(a, b), operands[0], operands[1])

    # -- method calls (Count() convention and friends) --------------------------

    def _lower_call(self, node: Node) -> Any:
        parent_node, name, args, kwargs = node.args
        parent = self.lower(parent_node)
        handler = getattr(self, f"_call_{name.lower()}", None)
        if handler is None:
            raise LoweringError(
                f"Captured method {name!r} has no lowering rule "
                "(reference leaves method meaning to the backend; ours are "
                "Count/Sum/Min/Max/Mean/First/map/join/groupby/agg)"
            )
        return handler(parent_node, parent, args, dict(kwargs))

    def _agg_over(
        self, parent_node: Node, parent: Any, scalar_agg: Callable[[SCol], SCol]
    ) -> Any:
        """Apply an array-collapsing aggregate at the correct nesting level.

        * top-level collection (or per-element scalar over one) → per-event
          scalar (LCol);
        * collection-valued per-element expression (two-level nesting, e.g.
          ``customer.orders[i].items``) → aggregate INSIDE each outer
          element, yielding a per-outer-element scalar (LElem) that further
          aggregates can collapse — ``…items[m].Count().Sum()`` composes to
          any depth.
        """
        if isinstance(parent, LCol) and parent.is_collection:
            return LCol(scalar_agg(parent.col))
        if isinstance(parent, LElem):
            if isinstance(parent.elem_type, T.ArrayType):
                pfn = parent.fn
                return LElem(parent.source, lambda e: scalar_agg(pfn(e)))
            src = self.lower(parent.source)
            if isinstance(src, LCol) and src.is_collection:
                return LCol(scalar_agg(F.transform(src.col, parent.fn)))
            if isinstance(src, LElem):
                sfn, pfn = src.fn, parent.fn
                return LElem(
                    src.source, lambda e: scalar_agg(F.transform(sfn(e), pfn))
                )
        raise LoweringError("Nested aggregate applied to a non-collection")

    def _call_count(self, parent_node: Node, parent: Any, args: tuple, kwargs: dict) -> Any:
        if isinstance(parent, LFrame):
            # event-level Count(): a full aggregate over the frame
            return LFrame(parent.df.agg(F.count(F.lit(1)).alias("count")))
        # bigint like SQL COUNT (F.size is int32; oracle len() is int64)
        return self._agg_over(
            parent_node, parent, lambda arr: F.size(arr).cast(T.LongType())
        )

    # Nested sums fold in DECIMAL: exact and order-independent, so results
    # are deterministic regardless of partition/element order (a double
    # fold would drift in the last ulps between runs/engines at scale).
    _SUM_DECIMAL = T.DecimalType(38, 6)

    def _decimal_fold(self, arr: SCol) -> SCol:
        dec = self._SUM_DECIMAL
        return F.aggregate(
            arr, F.lit(0).cast(dec), lambda acc, x: acc + x.cast(dec)
        ).cast(T.DoubleType())

    def _call_sum(self, parent_node: Node, parent: Any, args: tuple, kwargs: dict) -> Any:
        return self._agg_over(parent_node, parent, self._decimal_fold)

    def _call_min(self, parent_node: Node, parent: Any, args: tuple, kwargs: dict) -> Any:
        return self._agg_over(parent_node, parent, F.array_min)

    def _call_max(self, parent_node: Node, parent: Any, args: tuple, kwargs: dict) -> Any:
        return self._agg_over(parent_node, parent, F.array_max)

    def _call_mean(self, parent_node: Node, parent: Any, args: tuple, kwargs: dict) -> Any:
        # try_divide: an empty collection yields null, matching the
        # reference's null-ish aggregate semantics — under Spark 4's
        # default ANSI mode a bare division would abort the job with
        # DIVIDE_BY_ZERO when a filter empties the collection.
        return self._agg_over(
            parent_node,
            parent,
            lambda arr: F.try_divide(self._decimal_fold(arr), F.size(arr)),
        )

    def _call_first(self, parent_node: Node, parent: Any, args: tuple, kwargs: dict) -> Any:
        # try_element_at: null on empty collections instead of ANSI's
        # INVALID_ARRAY_INDEX_IN_ELEMENT_AT job abort.
        return self._agg_over(
            parent_node, parent, lambda arr: F.try_element_at(arr, F.lit(1))
        )

    def _call_map(self, parent_node: Node, parent: Any, args: tuple, kwargs: dict) -> Any:
        """``coll.map(lambda elem: expr)`` — deferred lambda, expanded here
        against an element proxy (the Spark analogue of the reference's
        ``render_callable``, reference: render.py)."""
        if len(args) != 1 or not callable(args[0]):
            raise LoweringError(".map() takes exactly one callable")
        if not (isinstance(parent, LCol) and parent.is_collection):
            raise LoweringError(".map() applies to nested collections")
        proxy = DataFrame("elemvar", parent_node)
        result_node = args[0](proxy)
        low = self.lower(result_node)
        if not isinstance(low, LElem):
            raise LoweringError(".map() lambda must produce a per-element value")
        return LElem(parent_node, low.fn, low.elem_type)

    # -- relational sugar: join / groupby / agg (round 7, SURVEY §7 M4) ---------
    #
    # The reference DSL stops at nested-event analysis over ONE source
    # (DataFrame.py has no join or groupby node — SURVEY §7 M4 names
    # "d.join(d2, on=…) capture node" as the extension design work, and
    # the r6 verdict ranked this the #1 forward gap: a DSL user falls off
    # a cliff at their first dim join).  Capture needs NO new node types:
    # ``d.join(d2, on=…, how=…)``, ``j.groupby(keys)`` and
    # ``g.agg(name=expr)`` ride the existing attr+call machinery; only
    # lowering rules are added, and they emit the exact tier-2 plans
    # (bound-column refs, DECIMAL-fold sums) so a DSL-expressed query is
    # plan-identical to its hand-written twin (explain/sameSemantics-
    # asserted in tests/test_lowering.py).

    def _call_join(
        self, parent_node: Node, parent: Any, args: tuple, kwargs: dict
    ) -> Any:
        """``d.join(d2, on=mask_or_names, how=..., hint="broadcast")`` →
        the tier-2 join plan.  ``on`` as a capture mask gives a theta /
        bound-equi join; as column name(s) a USING-style equi join.  The
        broadcast hint mirrors join_broadcast's explicit F.broadcast —
        the 100 TB discipline of pinning small-dim joins shuffle-free."""
        if not isinstance(parent, LFrame):
            raise LoweringError(".join() applies to event frames")
        if not args:
            raise LoweringError(".join() requires the other frame")
        other = self.lower(args[0])
        if not isinstance(other, LFrame):
            raise LoweringError(".join() right side must be an event frame")
        on = kwargs.get("on", args[1] if len(args) > 1 else None)
        how = kwargs.get("how", "inner")
        right = other.df
        if kwargs.get("hint") == "broadcast":
            right = F.broadcast(right)
        if isinstance(on, Node):
            on_arg: Any = self._materialize(self.lower(on)).col
        elif isinstance(on, str) or (
            isinstance(on, (list, tuple))
            and on
            and all(isinstance(c, str) for c in on)
        ):
            on_arg = on if isinstance(on, str) else list(on)
        else:
            raise LoweringError(
                ".join() on= must be a capture mask or column name(s)"
            )
        return LFrame(parent.df.join(right, on_arg, how))

    def _call_asof_join(
        self, parent_node: Node, parent: Any, args: tuple, kwargs: dict
    ) -> Any:
        """``left.asof_join(right, on="key" | [keys...], left_ts="ts",
        right_ts="rts")`` — point-in-time join: each left row picks up
        the LATEST right row with the same key(s) whose ``right_ts`` is
        at or before the left row's ``left_ts`` (ASOF LEFT JOIN; left
        rows with no prior right row carry NULLs).

        Round 9 — the last registry-only relational family a DSL user
        couldn't reach.  Lowers to the tier-4 join_asof union+window
        rewrite, NOT a range join: both sides are tagged and unioned,
        one shuffle on the key sorts (ts, tag) per key, and
        ``last(_, ignorenulls)`` carries every right column forward —
        O(n log n) per key with one row of carry state, where the naive
        range join is O(left × right) per key.  Ties (equal timestamps)
        resolve right-before-left, matching ASOF's ``>=``.

        The matched right row is carried as ONE STRUCT (not per-column
        ``last``): a right column that is legitimately NULL in the
        matched row stays NULL in the output instead of leaking a stale
        value from an older right row (round-9 review finding — the
        per-column carry mixed columns from different right rows).

        Contract: ``on``/``left_ts``/``right_ts`` are column-NAME
        strings (both frames are already lowered, so names are
        unambiguous); non-key column names must not overlap between the
        two frames — ``.select()``-rename first (a silent suffix would
        hide which side a column came from); the internal names
        ``_asof_ts``/``_asof_tag``/``_asof_r`` are reserved.  When the
        right frame can hold several rows per (key, right_ts), pass
        ``tie_break="col"`` (a right column, greatest value wins) —
        without it the carried row among exact-timestamp ties is
        engine-arbitrary, the same unspecified behavior SQL ASOF JOIN
        has."""
        if not isinstance(parent, LFrame):
            raise LoweringError(".asof_join() applies to event frames")
        if not args:
            raise LoweringError(".asof_join() requires the other frame")
        other = self.lower(args[0])
        if not isinstance(other, LFrame):
            raise LoweringError(".asof_join() right side must be an event frame")
        on = kwargs.pop("on", None)
        keys = [on] if isinstance(on, str) else list(on or [])
        lts = kwargs.pop("left_ts", None)
        rts = kwargs.pop("right_ts", None)
        tie = kwargs.pop("tie_break", None)
        if kwargs:
            raise LoweringError(
                f".asof_join() got unexpected kwargs: {sorted(kwargs)}"
            )
        if not keys or not all(isinstance(k, str) for k in keys):
            raise LoweringError(".asof_join() on= must be column name(s)")
        if not isinstance(lts, str) or not isinstance(rts, str):
            raise LoweringError(
                ".asof_join() left_ts=/right_ts= must be column names"
            )
        ldf, rdf = parent.df, other.df
        reserved = {"_asof_ts", "_asof_tag", "_asof_r"}
        taken = sorted(reserved & (set(ldf.columns) | set(rdf.columns)))
        if taken:
            raise LoweringError(
                f".asof_join() reserved internal name(s) {taken} exist as "
                "frame column(s) — .select()-rename them first"
            )
        lcols = [c for c in ldf.columns if c not in keys]
        rcols = [c for c in rdf.columns if c not in keys]
        if lts not in lcols or rts not in rcols:
            raise LoweringError(
                f".asof_join() time columns {lts!r}/{rts!r} must exist in "
                "their frames (and not be join keys)"
            )
        if tie is not None and (not isinstance(tie, str) or tie not in rcols):
            raise LoweringError(
                ".asof_join() tie_break= must be a right-frame column name"
            )
        clash = sorted(set(lcols) & set(rcols))
        if clash:
            raise LoweringError(
                f".asof_join() column name(s) {clash} exist on both sides "
                "— .select()-rename one side first"
            )
        ltypes = {f.name: f.dataType for f in ldf.schema.fields}
        rstruct = T.StructType([rdf.schema[c] for c in rcols])
        tagged_r = rdf.select(
            *keys,
            rdf[rts].alias("_asof_ts"),
            F.lit(0).alias("_asof_tag"),
            F.struct(*[rdf[c] for c in rcols]).alias("_asof_r"),
            *[F.lit(None).cast(ltypes[c]).alias(c) for c in lcols],
        )
        tagged_l = ldf.select(
            *keys,
            ldf[lts].alias("_asof_ts"),
            F.lit(1).alias("_asof_tag"),
            F.lit(None).cast(rstruct).alias("_asof_r"),
            *[ldf[c] for c in lcols],
        )
        from pyspark.sql import Window as W

        order = [F.col("_asof_ts"), F.col("_asof_tag")]
        if tie is not None:
            # among right rows sharing (key, ts): greatest tie value wins
            # (sorts last, so last() picks it); left rows carry a NULL
            # struct, so their relative order never affects the carry
            order.append(F.col("_asof_r").getItem(tie))
        w = (
            W.partitionBy(*keys)
            .orderBy(*order)
            .rowsBetween(W.unboundedPreceding, W.currentRow)
        )
        merged = tagged_r.unionByName(tagged_l).select(
            *keys,
            "_asof_tag",
            *lcols,
            F.last("_asof_r", ignorenulls=True).over(w).alias("_asof_r"),
        )
        return LFrame(
            merged.where(F.col("_asof_tag") == 1).select(
                *keys,
                *lcols,
                *[F.col("_asof_r").getItem(c).alias(c) for c in rcols],
            )
        )

    def _call_groupby(
        self, parent_node: Node, parent: Any, args: tuple, kwargs: dict
    ) -> Any:
        """``frame.groupby(d.key, ..., name=expr)`` → grouped state.
        Positional keys keep their column name; keyword keys are
        aliased."""
        if not isinstance(parent, LFrame):
            raise LoweringError(".groupby() applies to event frames")
        keys = []
        for k in args:
            if isinstance(k, str):
                keys.append(parent.df[k])
            elif isinstance(k, Node):
                keys.append(self._materialize(self.lower(k)).col)
            else:
                raise LoweringError(f"Bad groupby key: {k!r}")
        for name, k in kwargs.items():
            keys.append(self._materialize(self.lower(k)).col.alias(name))
        if not keys:
            raise LoweringError(".groupby() requires at least one key")
        return LGrouped(parent.df, keys)

    def _call_pivot(
        self, parent_node: Node, parent: Any, args: tuple, kwargs: dict
    ) -> Any:
        """``frame.groupby(keys...).pivot("col", values=[...], names=[...],
        default=0)`` — long→wide reshape (round 9, the DSL reshape gap).

        ``values`` is REQUIRED: an explicit pivot value list means Spark
        skips the distinct-values discovery job and the output schema is
        static — the tier-4 pivot_wide cluster discipline.  Optional
        ``names`` aliases the value columns (pivot values are rarely
        valid identifiers) and ``default`` fills absent (group, value)
        cells, lowering to the same coalesce/alias projection the
        hand-written operator emits."""
        if not isinstance(parent, LGrouped):
            raise LoweringError(".pivot() applies to a .groupby() result")
        if len(args) != 1 or not isinstance(args[0], str):
            raise LoweringError(".pivot() takes the pivot column name")
        values = kwargs.pop("values", None)
        if not isinstance(values, (list, tuple)) or not values:
            raise LoweringError(
                ".pivot() requires values=[...] — an explicit value list "
                "keeps the output schema static (no distinct-values job)"
            )
        if any(v is None for v in values):
            raise LoweringError(
                ".pivot() values= must not contain None (Spark names that "
                "column 'null'; emit it explicitly upstream instead)"
            )
        names = kwargs.pop("names", None)
        if names is not None and (
            not isinstance(names, (list, tuple)) or len(names) != len(values)
        ):
            raise LoweringError(
                ".pivot() names= must parallel the values list"
            )
        default = kwargs.pop("default", None)
        if kwargs:
            raise LoweringError(
                f".pivot() got unexpected kwargs: {sorted(kwargs)}"
            )
        return LPivoted(
            parent.df,
            parent.keys,
            args[0],
            list(values),
            list(names) if names is not None else None,
            default,
        )

    def _call_agg(
        self, parent_node: Node, parent: Any, args: tuple, kwargs: dict
    ) -> Any:
        """``grouped.agg(out=d.x.Sum(), avg=d.x.Sum() / d.Count(), ...)``
        → the tier-2 aggregate plan: Sum/Mean fold in DECIMAL(38,6) and
        cast back to double (exact, partition-order independent — the
        same discipline as the nested Sum and agg_groupby's _dsum);
        Count is COUNT(*) on the frame or COUNT(col) on a column;
        arithmetic over aggregate calls composes (avg = Sum / Count).
        On a ``.pivot()`` result, the single named aggregate fans out
        over the explicit value list."""
        if not isinstance(parent, (LGrouped, LPivoted)):
            raise LoweringError(".agg() applies to a .groupby() result")
        if args or not kwargs:
            raise LoweringError(".agg() takes named aggregate expressions")
        if isinstance(parent, LPivoted):
            if len(kwargs) != 1:
                raise LoweringError(
                    ".agg() after .pivot() takes exactly one named "
                    "aggregate (the pivot fans it out per value)"
                )
            ((_, node),) = kwargs.items()
            wide = (
                parent.df.groupBy(*parent.keys)
                .pivot(parent.pivot_col, parent.values)
                .agg(self._agg_value(node))
            )
            if parent.names is None and parent.default is None:
                return LFrame(wide)
            key_names = wide.columns[: len(parent.keys)]
            # Resolve value columns from the ACTUAL post-pivot schema, not
            # str(v): Spark's pivot naming diverges from Python str() for
            # bool ('true', not 'True') / datetime / Decimal values, so a
            # str(v) lookup raised UNRESOLVED_COLUMN on valid input
            # (round-10 ADVICE).  With exactly one unaliased aggregate the
            # value columns are wide.columns after the keys, in values=
            # order — Spark preserves the explicit value list's order.
            actual = wide.columns[len(parent.keys):]
            names = parent.names or actual
            out = []
            for vc, nm in zip(actual, names):
                # backtick-quote: a dotted value column name ('1.5',
                # 'a.b') would otherwise be resolved as struct access
                # (round-9 review — float pivot values raised
                # UNRESOLVED_COLUMN for `1`.`5`)
                c = F.col("`" + vc.replace("`", "``") + "`")
                if parent.default is not None:
                    c = F.coalesce(c, F.lit(parent.default))
                out.append(c.alias(nm))
            return LFrame(wide.select(*key_names, *out))
        cols = [
            self._agg_value(node).alias(name) for name, node in kwargs.items()
        ]
        return LFrame(parent.df.groupBy(*parent.keys).agg(*cols))

    def _call_explode(
        self, parent_node: Node, parent: Any, args: tuple, kwargs: dict
    ) -> Any:
        """``frame.explode("kept_col", ..., item=d.items)`` — flatten a
        nested collection into rows: one output row per element, carrying
        the named positional columns (all columns when none are named)
        plus the element under the kwarg name.  The natural exit from the
        nested-collection world into flat relational form — lowers to the
        tier-4 explode_unnest projection (narrow, no shuffle)."""
        if not isinstance(parent, LFrame):
            raise LoweringError(".explode() applies to event frames")
        if len(kwargs) != 1:
            raise LoweringError(
                ".explode() takes exactly one name=collection kwarg"
            )
        ((name, coll),) = kwargs.items()
        cols = []
        for a in args:
            if not isinstance(a, str):
                raise LoweringError(
                    ".explode() positional args must be column-name strings"
                )
            if a == name:
                raise LoweringError(
                    f".explode() element name {name!r} collides with a "
                    "kept column"
                )
            cols.append(parent.df[a])
        low = self.lower(coll)
        if not (isinstance(low, LCol) and low.is_collection):
            raise LoweringError(".explode() value must be a collection")
        if not args:
            if name in parent.df.columns:
                raise LoweringError(
                    f".explode() element name {name!r} collides with an "
                    "existing column"
                )
            return LFrame(parent.df.select("*", F.explode(low.col).alias(name)))
        return LFrame(parent.df.select(*cols, F.explode(low.col).alias(name)))

    def _call_unpivot(
        self, parent_node: Node, parent: Any, args: tuple, kwargs: dict
    ) -> Any:
        """``frame.unpivot(["id", ...], ["v1", "v2", ...], "var", "val")``
        — wide→long melt, lowering to ``DataFrame.unpivot`` (the tier-4
        unpivot_long plan: a narrow, no-shuffle Expand)."""
        if not isinstance(parent, LFrame):
            raise LoweringError(".unpivot() applies to event frames")
        if kwargs or len(args) != 4:
            raise LoweringError(
                ".unpivot() takes (ids, values, var_name, value_name)"
            )
        ids, vals, var_name, value_name = args
        if not (
            isinstance(ids, (list, tuple))
            and isinstance(vals, (list, tuple))
            and vals
            and all(isinstance(c, str) for c in list(ids) + list(vals))
            and isinstance(var_name, str)
            and isinstance(value_name, str)
        ):
            raise LoweringError(
                ".unpivot() ids/values must be column-name string lists, "
                "var/value output names strings"
            )
        return LFrame(
            parent.df.unpivot(list(ids), list(vals), var_name, value_name)
        )

    def _call_orderby(
        self, parent_node: Node, parent: Any, args: tuple, kwargs: dict
    ) -> Any:
        """``frame.orderby(keys..., ascending=bool | [bool, ...])`` —
        with a downstream ``.limit(n)`` Catalyst plans the pair as
        TakeOrderedAndProject (per-partition top-k, no global sort), the
        same plan the hand-written tier-2 top-k queries get."""
        if not isinstance(parent, LFrame):
            raise LoweringError(".orderby() applies to event frames")
        if not args:
            raise LoweringError(".orderby() requires at least one key")
        cols = []
        for k in args:
            if isinstance(k, str):
                cols.append(parent.df[k])
            else:
                cols.append(self._materialize(self.lower(k)).col)
        asc = kwargs.get("ascending", True)
        flags = list(asc) if isinstance(asc, (list, tuple)) else [asc] * len(cols)
        if len(flags) != len(cols):
            raise LoweringError("ascending= list must match the key count")
        ordered = [c if f else c.desc() for c, f in zip(cols, flags)]
        return LFrame(parent.df.orderBy(*ordered))

    def _call_limit(
        self, parent_node: Node, parent: Any, args: tuple, kwargs: dict
    ) -> Any:
        if not isinstance(parent, LFrame):
            raise LoweringError(".limit() applies to event frames")
        if len(args) != 1 or isinstance(args[0], Node):
            raise LoweringError(".limit() takes one integer")
        return LFrame(parent.df.limit(int(args[0])))

    # -- windows + set ops (round 8, SURVEY §7 M4 close-out) --------------------
    #
    # The last two relational families a DSL user couldn't reach (r7
    # VERDICT "What's missing #1"): window functions and set operations.
    # Same design rule as join/groupby/agg — no new node types, only
    # lowering rules, and the emitted plans are the tier-2 plans
    # (plan-discipline asserted in tests/test_lowering.py: one exchange
    # serves all same-partitioning window functions; set-op legs stay
    # name-resolved).

    def _call_select(
        self, parent_node: Node, parent: Any, args: tuple, kwargs: dict
    ) -> Any:
        """``frame.select("kept_col", name=expr_or_literal, ...)`` →
        projection.  Positional strings pass columns through under their
        own name; keyword values are capture expressions (aliased) or
        Python literals (constant columns — the tag column a set-op union
        needs)."""
        if not isinstance(parent, LFrame):
            raise LoweringError(".select() applies to event frames")
        cols = []
        for a in args:
            if not isinstance(a, str):
                raise LoweringError(
                    ".select() positional args must be column-name strings"
                )
            cols.append(parent.df[a])
        for name, v in kwargs.items():
            if isinstance(v, Node):
                cols.append(self._materialize(self.lower(v)).col.alias(name))
            else:
                cols.append(self._lit(v).alias(name))
        if not cols:
            raise LoweringError(".select() requires at least one column")
        return LFrame(parent.df.select(*cols))

    def _call_distinct(
        self, parent_node: Node, parent: Any, args: tuple, kwargs: dict
    ) -> Any:
        if not isinstance(parent, LFrame):
            raise LoweringError(".distinct() applies to event frames")
        if args or kwargs:
            raise LoweringError(".distinct() takes no arguments")
        return LFrame(parent.df.distinct())

    def _set_op_other(self, opname: str, args: tuple) -> "LFrame":
        if len(args) != 1:
            raise LoweringError(f".{opname}() takes exactly one other frame")
        other = self.lower(args[0])
        if not isinstance(other, LFrame):
            raise LoweringError(f".{opname}() right side must be an event frame")
        return other

    def _call_union(
        self, parent_node: Node, parent: Any, args: tuple, kwargs: dict
    ) -> Any:
        """``a.union(b)`` — UNION ALL, name-resolved (Spark
        ``unionByName``; positional union silently mis-zips reordered
        schemas).  SQL UNION-distinct is ``a.union(b).distinct()``."""
        if not isinstance(parent, LFrame):
            raise LoweringError(".union() applies to event frames")
        return LFrame(parent.df.unionByName(self._set_op_other("union", args).df))

    def _call_intersect(
        self, parent_node: Node, parent: Any, args: tuple, kwargs: dict
    ) -> Any:
        if not isinstance(parent, LFrame):
            raise LoweringError(".intersect() applies to event frames")
        return LFrame(
            parent.df.intersect(self._set_op_other("intersect", args).df)
        )

    def _call_subtract(
        self, parent_node: Node, parent: Any, args: tuple, kwargs: dict
    ) -> Any:
        """``a.subtract(b)`` / ``a.except_(b)`` — SQL EXCEPT (distinct)."""
        if not isinstance(parent, LFrame):
            raise LoweringError(".subtract() applies to event frames")
        return LFrame(
            parent.df.subtract(self._set_op_other("subtract", args).df)
        )

    _call_except_ = _call_subtract

    def _call_with_watermark(
        self, parent_node: Node, parent: Any, args: tuple, kwargs: dict
    ) -> Any:
        """``frame.with_watermark("ts", "10 minutes")`` → late-data bound
        for captured STREAMING aggregations (round 9 — the first stateful
        op the DSL can express; stream_dsl_filter proved the stateless
        path).  Lowers to ``df.withWatermark``; on a batch-bound frame
        Catalyst's EliminateEventTimeWatermark removes the node, so the
        same captured expression lowers onto either source — the
        source-agnostic discipline."""
        if not isinstance(parent, LFrame):
            raise LoweringError(".with_watermark() applies to event frames")
        if kwargs or len(args) != 2 or not all(
            isinstance(a, str) for a in args
        ):
            raise LoweringError(
                ".with_watermark() takes (event_time_column, delay) strings"
            )
        return LFrame(parent.df.withWatermark(args[0], args[1]))

    def _call_time_window(
        self, parent_node: Node, parent: Any, args: tuple, kwargs: dict
    ) -> Any:
        """``d.ts.time_window("1 hour"[, "15 minutes"])`` → the tumbling
        (or sliding, with a slide) time-window STRUCT ``F.window(col,
        ...)`` — usable as a ``.groupby()`` key; ``.start``/``.end``
        attr access descends into the struct after aggregation."""
        if kwargs or not 1 <= len(args) <= 2 or any(
            isinstance(a, Node) for a in args
        ):
            raise LoweringError(
                ".time_window() takes duration[, slide] literal strings"
            )
        dur = str(args[0])
        if len(args) == 2:
            slide = str(args[1])
            return self._lift_unary(lambda c: F.window(c, dur, slide),
                                    parent_node)
        return self._lift_unary(lambda c: F.window(c, dur), parent_node)

    def _call_session_window(
        self, parent_node: Node, parent: Any, args: tuple, kwargs: dict
    ) -> Any:
        """``d.ts.session_window("30 minutes")`` → the gap-based session
        STRUCT ``F.session_window(col, gap)`` — the third time-window
        family a ``.groupby()`` key can be (tumbling/sliding via
        ``.time_window``, sessions here); ``.start``/``.end`` descend
        into the struct after aggregation.  On a watermarked stream this
        is the state-store-backed sessionization; on batch the same
        captured chain is the session_window operator's plan."""
        if kwargs or len(args) != 1 or isinstance(args[0], Node):
            raise LoweringError(
                ".session_window() takes one gap literal string"
            )
        gap = str(args[0])
        return self._lift_unary(lambda c: F.session_window(c, gap),
                                parent_node)

    def _call_persist_point(
        self, parent_node: Node, parent: Any, args: tuple, kwargs: dict
    ) -> Any:
        """``frame.persist_point()`` — the cross-ACTION materialization
        point (SURVEY §4.1 row 2, executable as of round 9).

        Capture-time memoization already gives shared sub-DAGs object
        identity (nodes.py attr cache), and Catalyst eliminates common
        subexpressions *within* one action — but a user who consumes the
        same captured sub-DAG in TWO actions otherwise scans parquet
        twice (the reference's render-time CSE identity
        [R: render.py:~90-200] has the same per-render boundary).  This
        op lowers to ``df.persist(MEMORY_AND_DISK)``: Spark's
        CacheManager registers the CANONICALIZED plan, so every later
        action whose plan contains this subplan — even one lowered
        through a *different* Lowerer from the same captured nodes —
        swaps in an InMemoryTableScan instead of re-reading the source.

        Lifecycle: persistence is lazy (the first action fills the
        cache); every persisted frame is tracked module-wide and
        released by ``unpersist_points()``.  MEMORY_AND_DISK (not
        MEMORY_ONLY) so an executor under memory pressure spills the
        cached partitions instead of silently recomputing the subplan —
        the 100 TB-safe default."""
        if not isinstance(parent, LFrame):
            raise LoweringError(".persist_point() applies to event frames")
        if args or kwargs:
            raise LoweringError(".persist_point() takes no arguments")
        from pyspark import StorageLevel

        parent.df.persist(StorageLevel.MEMORY_AND_DISK)
        _PERSIST_REGISTRY.append(parent.df)
        return LFrame(parent.df)

    # -- pipeline verbs: the north star's own operations as capture-layer
    # macros (round 10, r9 VERDICT item 4).  The DSL spanned relational +
    # streaming but none of the LLM-pipeline verbs — a pipeline author
    # fell out of the capture layer at their first dedup.  Same design
    # rule as join/groupby/agg: no new node types, and the lowering
    # DELEGATES to the proven tier-3 kernels so a DSL-expressed pipeline
    # is plan-identical to its registry twin (asserted in
    # tests/test_lowering.py).

    def _call_dedup_exact(
        self, parent_node: Node, parent: Any, args: tuple, kwargs: dict
    ) -> Any:
        """``frame.dedup_exact(on=d.text, key="doc_id")`` → the tier-3
        exact-dedup plan (operators/tier3.py dedup_exact): group by the
        portable rolling FINGERPRINT of the content — the shuffle
        carries 8-byte keys, never document bytes (the only exact-dedup
        shape that survives 100 TB) — keeping ``min(key)`` per group,
        with the group's copy count.  Output columns: ``keep_<key>``,
        ``n_copies``."""
        if not isinstance(parent, LFrame):
            raise LoweringError(".dedup_exact() applies to event frames")
        if args and "on" in kwargs:
            raise LoweringError(
                ".dedup_exact() got both a positional content argument "
                "and on= — pass one"
            )
        on = kwargs.pop("on", args[0] if args else None)
        key = kwargs.pop("key", None)
        if kwargs or len(args) > 1:
            raise LoweringError(
                ".dedup_exact() takes (on=<content expression>, "
                "key=<id column name>)"
            )
        if not isinstance(on, Node):
            raise LoweringError(
                ".dedup_exact() on= must be a capture expression "
                "(the content column to fingerprint)"
            )
        if not isinstance(key, str) or key not in parent.df.columns:
            raise LoweringError(
                f".dedup_exact() key= must name a column of the frame "
                f"(got {key!r})"
            )
        from ..functions.text import char_fingerprint

        content = self._materialize(self.lower(on)).col
        df = parent.df
        return LFrame(
            df.groupBy(char_fingerprint(content).alias("fp"))
            .agg(
                F.min(df[key]).alias(f"keep_{key}"),
                F.count(F.lit(1)).alias("n_copies"),
            )
            .select(f"keep_{key}", "n_copies")
        )

    def _call_dedup_near(
        self, parent_node: Node, parent: Any, args: tuple, kwargs: dict
    ) -> Any:
        """``frame.dedup_near(on=d.text, key="doc_id", threshold=0.5,
        n_hashes=32)`` → the tier-3 MinHash+LSH near-dup plan
        (functions/dedup.py minhash_near_dup_pairs, the
        dedup_near_minhash kernel): shingle → minhash signature →
        threshold-derived banding → band-bucket self-equi-join for
        candidates → exact-Jaccard verify.  Output: ``(a, b, jaccard)``
        — every pair with true Jaccard ≥ threshold (LSH is purely a
        candidate pruner; the banding is derived from the threshold to
        keep the miss probability under 1e-6, so the emitted set is
        defined by the exact verify).

        Scale (inherited verbatim from the registry twin): the banded
        shuffle carries (id, band, bucket) only — signatures are
        checkpointed once, shingle arrays re-join just for the verify —
        and candidates never approach corpus².  Round 11, r10 VERDICT
        item 6: the last tier-3 pipeline kernel the DSL could not
        express."""
        if not isinstance(parent, LFrame):
            raise LoweringError(".dedup_near() applies to event frames")
        if args and "on" in kwargs:
            raise LoweringError(
                ".dedup_near() got both a positional content argument "
                "and on= — pass one"
            )
        on = kwargs.pop("on", args[0] if args else None)
        key = kwargs.pop("key", None)
        threshold = kwargs.pop("threshold", 0.5)
        n_hashes = kwargs.pop("n_hashes", 32)
        if kwargs or len(args) > 1:
            raise LoweringError(
                ".dedup_near() takes (on=<content expression>, "
                "key=<id column name>, threshold=, n_hashes=)"
            )
        if not isinstance(on, Node):
            raise LoweringError(
                ".dedup_near() on= must be a capture expression "
                "(the content column to shingle)"
            )
        if not isinstance(key, str) or key not in parent.df.columns:
            raise LoweringError(
                f".dedup_near() key= must name a column of the frame "
                f"(got {key!r})"
            )
        if isinstance(threshold, Node) or not 0.0 < float(threshold) <= 1.0:
            raise LoweringError(
                ".dedup_near() threshold= must be a literal in (0, 1]"
            )
        if isinstance(n_hashes, Node) or int(n_hashes) < 1:
            raise LoweringError(
                ".dedup_near() n_hashes= must be a positive int"
            )
        from ..functions.dedup import minhash_near_dup_pairs

        content = self._materialize(self.lower(on)).col
        base = parent.df.select(
            parent.df[key].alias(key), content.alias("_dn_text")
        )
        return LFrame(
            minhash_near_dup_pairs(
                base,
                id_col=key,
                text_col="_dn_text",
                n_hashes=int(n_hashes),
                threshold=float(threshold),
            )
        )

    def _call_similar_topk(
        self, parent_node: Node, parent: Any, args: tuple, kwargs: dict
    ) -> Any:
        """``frame.similar_topk(query=[ids...], k=10, id="vec_id",
        vec="embedding", method="exact"|"lsh")`` → the tier-3 cosine
        top-k plans (functions/similarity.py, the sim_search_topk /
        sim_search_lsh twins): queries broadcast against the corpus (no
        corpus shuffle), one codegen'd scoring stage, per-query rank as
        a partitioned WindowGroupLimit.  ``method="lsh"`` scores only
        the query's hyperplane-sketch bucket (equi-join on bucket id) —
        the shuffle-light scale path when n_queries × corpus is too
        large to score exactly.  Output: (qid, vid, sim, rk)."""
        if not isinstance(parent, LFrame):
            raise LoweringError(".similar_topk() applies to event frames")
        query = kwargs.pop("query", None)
        k = kwargs.pop("k", 10)
        id_col = kwargs.pop("id", "vec_id")
        vec_col = kwargs.pop("vec", "embedding")
        method = kwargs.pop("method", "exact")
        if args or kwargs:
            raise LoweringError(
                ".similar_topk() takes (query=[ids...], k=, id=, vec=, "
                "method=)"
            )
        if method not in ("exact", "lsh"):
            raise LoweringError(
                ".similar_topk() method= must be 'exact' or 'lsh'"
            )
        if (
            not isinstance(query, (list, tuple))
            or not query
            or any(isinstance(q, Node) for q in query)
        ):
            raise LoweringError(
                ".similar_topk() query= must be a non-empty literal id list"
            )
        if isinstance(k, Node) or int(k) < 1:
            raise LoweringError(".similar_topk() k= must be a positive int")
        for c in (id_col, vec_col):
            if not isinstance(c, str) or c not in parent.df.columns:
                raise LoweringError(
                    f".similar_topk() id=/vec= must name frame columns "
                    f"(got {c!r})"
                )
        from ..functions.similarity import cosine_topk, cosine_topk_lsh

        fn = cosine_topk_lsh if method == "lsh" else cosine_topk
        return LFrame(
            fn(parent.df, list(query), int(k), id_col=id_col,
               vec_col=vec_col)
        )

    # -- table-format write verbs (round 12, r11 VERDICT item 7): the
    # capture DSL could READ versioned tables (dsl_table_pipeline binds
    # read_version output as a source) but not WRITE them — these verbs
    # close the loop, so a captured clean→dedup pipeline lands IN a
    # governed, time-travelable table.  SIDE-EFFECT SEMANTICS: lowering
    # is this DSL's action boundary (select_from/to_spark trigger it),
    # so the commit happens AT LOWERING — once per session (the memo
    # guarantees a node lowers once), again in a NEW session, exactly
    # like re-running any Spark write action; idempotence across runs is
    # the caller's write-once guard, same as every registry query.

    def _call_write_table(
        self, parent_node: Node, parent: Any, args: tuple, kwargs: dict
    ) -> Any:
        """``frame.write_table(root, bucket_on=..., n_buckets=...,
        hashed=True, n_files=8, stats_key=...)`` — commit the captured
        pipeline's rows as a table version, DELEGATING to the proven
        sources/mergetable commit protocol: with ``bucket_on`` the
        frame CREATES a bucketed table (v0 via ``commit_bucketed`` —
        the layout later ``.merge_into()`` calls rewrite k/B of);
        without it the frame lands as the next version through the
        multi-writer ``commit_snapshot_exclusive`` claim loop.
        ``stats_key=`` sorts the written files on that column and
        records their footer min/max, key first, in the marker's one
        file-statistics record, which ``read_version`` /
        ``read_bucketed`` ``ranges=`` reads prune by.  Returns the
        committed version's READ-BACK frame, so the pipeline can keep
        composing over what was actually durably written."""
        if not isinstance(parent, LFrame):
            raise LoweringError(".write_table() applies to event frames")
        root = args[0] if args else kwargs.pop("root", None)
        if len(args) > 1 or not isinstance(root, str):
            raise LoweringError(
                ".write_table() takes (root_path, bucket_on=, n_buckets=, "
                "hashed=, n_files=, stats_key=)"
            )
        bucket_on = kwargs.pop("bucket_on", None)
        n_buckets = kwargs.pop("n_buckets", None)
        hashed = kwargs.pop("hashed", True)
        n_files = kwargs.pop("n_files", 8)
        stats_key = kwargs.pop("stats_key", None)
        if kwargs:
            raise LoweringError(
                f".write_table() got unexpected kwargs: {sorted(kwargs)}"
            )
        from ..sources import mergetable as mt

        spark = parent.df.sparkSession
        if bucket_on is not None:
            if not isinstance(n_buckets, int) or n_buckets < 1:
                raise LoweringError(
                    ".write_table() bucket_on= requires n_buckets=<int>"
                )
            if mt.latest_version(root) is not None:
                raise LoweringError(
                    ".write_table(bucket_on=...) creates tables — merge "
                    "changes into an existing one with .merge_into()"
                )
            mt.commit_bucketed(
                parent.df, root, 0, on=bucket_on, n_buckets=n_buckets,
                hashed=hashed, stats_key=stats_key, n_files=n_files,
                meta={"op": "dsl-write"},
            )
            return LFrame(mt.read_bucketed(spark, root, 0))
        n = mt.commit_snapshot_exclusive(
            parent.df, root, meta={"op": "dsl-write"}, n_files=n_files,
            stats_key=stats_key,
        )
        return LFrame(mt.read_version(spark, root, n))

    def _call_merge_into(
        self, parent_node: Node, parent: Any, args: tuple, kwargs: dict
    ) -> Any:
        """``frame.merge_into(root, matched_update={...},
        not_matched_insert={...}, matched_delete=None, on=None,
        strict_source_keys=False)`` — MERGE the captured frame (the
        SOURCE change set) into the table at ``root``, delegating to
        the mergetable kernels: bucketed tables run
        ``merge_into_bucketed``, the one bucketed MERGE (OCC write-set
        conflict detection, k/B rewrite, rebase on disjoint rivals;
        ``on`` is the table's own bucket key — an explicit ``on=`` must
        match it); plain tables run table-granularity ``merge_into`` +
        ``commit_snapshot_exclusive`` with a required ``on=``.  Clause
        dicts are the mergetable SET-expression contract verbatim (SQL
        strings over ``t.``/``s.``).  Returns the committed version's
        read-back frame."""
        if not isinstance(parent, LFrame):
            raise LoweringError(".merge_into() applies to event frames")
        root = args[0] if args else kwargs.pop("root", None)
        matched_update = kwargs.pop("matched_update", None)
        not_matched_insert = kwargs.pop("not_matched_insert", None)
        matched_delete = kwargs.pop("matched_delete", None)
        on = kwargs.pop("on", None)
        strict = kwargs.pop("strict_source_keys", False)
        if (
            kwargs
            or len(args) > 1
            or not isinstance(root, str)
            or not isinstance(matched_update, dict)
            or not isinstance(not_matched_insert, dict)
        ):
            raise LoweringError(
                ".merge_into() takes (root_path, matched_update={...}, "
                "not_matched_insert={...}, matched_delete=, on=, "
                "strict_source_keys=)"
            )
        from ..sources import mergetable as mt

        spark = parent.df.sparkSession
        base = mt.latest_version(root)
        if base is None:
            raise LoweringError(
                f".merge_into() target {root} has no committed version — "
                "create it with .write_table() first"
            )
        bmeta = mt.commit_meta(root, base)
        if bmeta.get("manifest") is not None:
            spec_on = list((bmeta.get("bucket") or {}).get("on", []))
            if on is not None:
                want = [on] if isinstance(on, str) else list(on)
                if want != spec_on:
                    raise LoweringError(
                        f".merge_into() on= must match the table's "
                        f"bucket key {spec_on} (got {want})"
                    )
            n = mt.merge_into_bucketed(
                spark, root, parent.df,
                matched_update=matched_update,
                not_matched_insert=not_matched_insert,
                meta={"op": "dsl-merge"},
                strict_source_keys=strict,
                matched_delete=matched_delete,
            )
            return LFrame(mt.read_bucketed(spark, root, n))
        if on is None:
            raise LoweringError(
                ".merge_into() on= is required for non-bucketed tables"
            )
        merged = mt.merge_into(
            mt.read_version(spark, root, base), parent.df, on=on,
            matched_update=matched_update,
            not_matched_insert=not_matched_insert,
            strict_source_keys=strict,
            matched_delete=matched_delete,
        )
        n = mt.commit_snapshot_exclusive(
            merged, root, meta={"op": "dsl-merge", "read_base": base}
        )
        return LFrame(mt.read_version(spark, root, n))

    def _call_changes(
        self, parent_node: Node, parent: Any, args: tuple, kwargs: dict
    ) -> Any:
        """``frame.changes(root, since=<version>, to=None, on=None)`` —
        the INCREMENTAL READ verb (round 13, r12 VERDICT item 8,
        completing the DSL's table surface: snapshot reads bind via
        select_from, writes via write_table/merge_into, and now the
        change feed reads via this).  The frame becomes the table's
        CHANGE DATA FEED over ``(since, to]`` — ``feed_since``'s exact
        contract: one row per change, updates with both images,
        ``change_type`` + ``_commit_version`` columns, empty frame for
        a caught-up consumer — so a captured curation pipeline can be
        INCREMENTAL end-to-end: filter/aggregate the feed with ordinary
        captured expressions and land the result with the write verbs.
        The parent frame supplies the session only (same convention as
        the write verbs, whose result is the committed read-back, not
        the parent's rows); row identity vs a direct ``feed_since``
        call is asserted in tests/test_lowering.py.

        ``stream=True`` (round 14, r13 VERDICT item 4) binds the
        STREAMING twin instead: the table's change feed as a
        Structured Streaming source (streaming/table_source.py, offset
        = commit version, checkpointed) starting AFTER version
        ``since`` — so the same captured pipeline runs as an
        incremental micro-batch job end-to-end, Delta's
        ``readStream``-on-a-table reachable from the DSL.  ``to=`` is
        rejected in stream mode (the upper bound is the checkpointed
        offset, advancing forever); ``on=`` maps to the source's
        ``keys`` option (plain snapshots only — bucketed tables derive
        keys from their spec).  Row identity vs the raw stream source
        and plan identity of captured transforms over it are asserted
        in tests/test_lowering.py."""
        if not isinstance(parent, LFrame):
            raise LoweringError(".changes() applies to event frames")
        root = args[0] if args else kwargs.pop("root", None)
        if len(args) > 1 or not isinstance(root, str):
            raise LoweringError(
                ".changes() takes (root_path, since=, to=, on=, stream=)"
            )
        since = kwargs.pop("since", None)
        to = kwargs.pop("to", None)
        on = kwargs.pop("on", None)
        stream = kwargs.pop("stream", False)
        if kwargs:
            raise LoweringError(
                f".changes() got unexpected kwargs: {sorted(kwargs)}"
            )
        if isinstance(since, bool) or not isinstance(since, int):
            raise LoweringError(
                ".changes() since= must be a literal committed version "
                "(int) — the consumer's cursor"
            )
        if stream:
            if to is not None:
                raise LoweringError(
                    ".changes(stream=True) takes no to= — a stream's "
                    "upper bound is its checkpointed offset"
                )
            from ..streaming.table_source import (
                register_table_stream_source,
            )

            spark = parent.df.sparkSession
            reader = (
                spark.readStream.format(register_table_stream_source(spark))
                .option("root", root)
                .option("start_version", str(since))
            )
            if on is not None:
                # validate BEFORE joining (round 15, r14 ADVICE): a
                # non-string non-iterable (on=5) must raise
                # LoweringError, not escape as a raw TypeError, and a
                # key containing "," would silently corrupt the
                # comma-joined keys option — mirror the batch-path
                # argument guards (.asof_join / feed_since style).
                if isinstance(on, str):
                    keys = [on]
                elif isinstance(on, (list, tuple)):
                    keys = list(on)
                else:
                    raise LoweringError(
                        ".changes() on= must be a column name or a "
                        "list/tuple of column names"
                    )
                if not keys or not all(
                    isinstance(k, str) and k and "," not in k for k in keys
                ):
                    raise LoweringError(
                        ".changes() on= keys must be non-empty column "
                        "names without ',' (the stream option is "
                        "comma-joined)"
                    )
                reader = reader.option("keys", ",".join(keys))
            return LFrame(reader.load())
        if to is not None and (isinstance(to, bool) or not isinstance(to, int)):
            raise LoweringError(".changes() to= must be an int version")
        from ..sources import mergetable as mt

        return LFrame(
            mt.feed_since(
                parent.df.sparkSession, root, since, to_version=to, on=on
            )
        )

    # -- table maintenance verbs (round 15, r14 VERDICT item 6) --------------

    @staticmethod
    def _maintenance_root(
        verb: str, parent: Any, args: tuple, kwargs: dict, signature: str
    ) -> str:
        """Shared argument plumbing for the maintenance verb set: the
        parent must be an event frame (it supplies the session only —
        same convention as the write verbs), the single positional is
        the table root, and leftover kwargs raise by name."""
        if not isinstance(parent, LFrame):
            raise LoweringError(f".{verb}() applies to event frames")
        root = args[0] if args else kwargs.pop("root", None)
        if len(args) > 1 or not isinstance(root, str):
            raise LoweringError(f".{verb}() takes {signature}")
        return root

    @staticmethod
    def _read_back(spark, root: str, n: int):
        """The committed read-back every maintenance verb returns —
        bucketed tables through the manifest reader, plain ones through
        read_version (the same frame the direct kernels document)."""
        from ..sources import mergetable as mt

        if mt.commit_meta(root, n).get("manifest") is not None:
            return LFrame(mt.read_bucketed(spark, root, n))
        return LFrame(mt.read_version(spark, root, n))

    def _call_vacuum(
        self, parent_node: Node, parent: Any, args: tuple, kwargs: dict
    ) -> Any:
        """``frame.vacuum(root, keep=1)`` — retention vacuum from the
        capture DSL (round 15, r14 VERDICT item 6: the maintenance
        verbs complete the governed-pipeline story — create with
        ``.write_table()``, evolve with ``.merge_into()``, consume with
        ``.changes()``, maintain with these).  Pure DELEGATION to
        ``sources/mergetable.vacuum`` (tombstone-first retention, MoR
        chain promotion, manifest/clone-aware deletes, checkpoint
        refresh) at the same memoized action boundary as the write
        verbs: the action runs ONCE per captured node when the plan is
        lowered, however many frames compose over its result.  The
        parent frame supplies the session only; the returned frame is
        the LATEST version's read-back — what a governed pipeline
        composes over after retention ran."""
        root = self._maintenance_root(
            "vacuum", parent, args, kwargs, "(root_path, keep=)"
        )
        keep = kwargs.pop("keep", 1)
        if kwargs:
            raise LoweringError(
                f".vacuum() got unexpected kwargs: {sorted(kwargs)}"
            )
        if isinstance(keep, bool) or not isinstance(keep, int) or keep < 1:
            raise LoweringError(".vacuum() keep= must be an int >= 1")
        from ..sources import mergetable as mt

        spark = parent.df.sparkSession
        mt.vacuum(root, keep=keep)
        n = mt.latest_version(root)
        if n is None:
            raise LoweringError(
                f".vacuum() target {root} has no committed version"
            )
        return self._read_back(spark, root, n)

    def _call_optimize_zorder(
        self, parent_node: Node, parent: Any, args: tuple, kwargs: dict
    ) -> Any:
        """``frame.optimize_zorder(root, by=(colA, colB), n_files=8)``
        — OPTIMIZE ... ZORDER BY from the DSL, delegating to the OCC
        ``optimize_zorder`` kernel (rewrite the resolved latest as a
        Morton-interleaved layout with two-dimensional file stats, an
        OCC maintenance commit that rebases past disjoint rivals).
        Returns the new version's read-back."""
        root = self._maintenance_root(
            "optimize_zorder", parent, args, kwargs,
            "(root_path, by=(colA, colB), n_files=)",
        )
        by = kwargs.pop("by", None)
        n_files = kwargs.pop("n_files", 8)
        if kwargs:
            raise LoweringError(
                f".optimize_zorder() got unexpected kwargs: {sorted(kwargs)}"
            )
        if (
            not isinstance(by, (list, tuple))
            or len(by) != 2
            or not all(isinstance(c, str) for c in by)
        ):
            raise LoweringError(
                ".optimize_zorder() by= must be a pair of column names"
            )
        from ..sources import mergetable as mt

        spark = parent.df.sparkSession
        n = mt.optimize_zorder(
            spark, root, list(by), meta={"op": "dsl-zorder"},
            n_files=n_files,
        )
        return self._read_back(spark, root, n)

    def _call_compact_buckets(
        self, parent_node: Node, parent: Any, args: tuple, kwargs: dict
    ) -> Any:
        """``frame.compact_buckets(root, max_files=1)`` — the OPTIMIZE
        small-file compaction from the DSL, delegating to the OCC
        ``compact_buckets`` kernel (rewrite only over-threshold
        buckets, reference the rest, carry stats).  Returns the
        resulting version's read-back (the CURRENT version when no
        bucket exceeded the threshold — a no-op burns no version
        number, per the kernel contract)."""
        root = self._maintenance_root(
            "compact_buckets", parent, args, kwargs,
            "(root_path, max_files=)",
        )
        max_files = kwargs.pop("max_files", 1)
        if kwargs:
            raise LoweringError(
                f".compact_buckets() got unexpected kwargs: {sorted(kwargs)}"
            )
        from ..sources import mergetable as mt

        spark = parent.df.sparkSession
        n = mt.compact_buckets(
            spark, root, max_files=max_files, meta={"op": "dsl-compact"}
        )
        return self._read_back(spark, root, n)

    def _call_restore_table(
        self, parent_node: Node, parent: Any, args: tuple, kwargs: dict
    ) -> Any:
        """``frame.restore_table(root, to=<version>)`` — RESTORE TABLE
        ... TO VERSION AS OF from the DSL, delegating to the
        ``restore_table`` kernel (history is never rewritten: the
        restore is a NEW commit whose content is the old version's —
        metadata-only for bucketed tables).  Returns the restore
        commit's read-back."""
        root = self._maintenance_root(
            "restore_table", parent, args, kwargs, "(root_path, to=)"
        )
        to = kwargs.pop("to", None)
        if kwargs:
            raise LoweringError(
                f".restore_table() got unexpected kwargs: {sorted(kwargs)}"
            )
        if isinstance(to, bool) or not isinstance(to, int):
            raise LoweringError(
                ".restore_table() to= must be a committed version (int)"
            )
        from ..sources import mergetable as mt

        spark = parent.df.sparkSession
        n = mt.restore_table(spark, root, to)
        return self._read_back(spark, root, n)

    def _call_window(
        self, parent_node: Node, parent: Any, args: tuple, kwargs: dict
    ) -> Any:
        """``frame.window(part_keys..., order_by=key | (keys...),
        ascending=bool | [bool,...], name=spec, ...)`` → the frame with
        one appended column per named spec, all sharing ONE window
        specification (one shuffle serves every spec in the call — the
        tier-2 window discipline; a second ordering is a second
        ``.window()`` call, which Catalyst groups into the same exchange
        when the partitioning matches).

        Specs: ``"row_number"`` / ``"rank"`` / ``"dense_rank"`` /
        ``"ntile:<n>"`` (strings), or tuples ``("lag", expr[, offset])``,
        ``("lead", expr[, offset])``, ``("sum", expr)`` — the running
        DECIMAL-folded sum over UNBOUNDED PRECEDING..CURRENT ROW, cast
        back to double (the window_analytic discipline)."""
        from pyspark.sql import Window as W

        if not isinstance(parent, LFrame):
            raise LoweringError(".window() applies to event frames")
        if not args:
            raise LoweringError(".window() requires at least one partition key")
        df = parent.df

        def as_cols(keys) -> list:
            out = []
            for k in keys:
                if isinstance(k, str):
                    out.append(df[k])
                elif isinstance(k, Node):
                    out.append(self._materialize(self.lower(k)).col)
                else:
                    raise LoweringError(f"Bad window key: {k!r}")
            return out

        part = as_cols(args)
        order = kwargs.pop("order_by", None)
        if order is None:
            raise LoweringError(".window() requires order_by=")
        okeys = list(order) if isinstance(order, (list, tuple)) else [order]
        ocols = as_cols(okeys)
        asc = kwargs.pop("ascending", True)
        flags = list(asc) if isinstance(asc, (list, tuple)) else [asc] * len(ocols)
        if len(flags) != len(ocols):
            raise LoweringError("ascending= list must match the order_by count")
        w = W.partitionBy(*part).orderBy(
            *[c if f else c.desc() for c, f in zip(ocols, flags)]
        )
        if not kwargs:
            raise LoweringError(".window() requires at least one named spec")
        # Collision guard (round-9 ADVICE): a spec named after an existing
        # column would otherwise produce DUPLICATE column names via
        # select('*', ...) and ambiguous downstream resolution — fail
        # loudly at lowering time instead.  (Python kwargs already forbid
        # two specs sharing a name within one call.)
        existing = set(df.columns)
        clashes = sorted(n for n in kwargs if n in existing)
        if clashes:
            raise LoweringError(
                f".window() spec name(s) {clashes} already exist as "
                f"column(s) of the frame — pick fresh names or .select() "
                f"the old column away first"
            )
        named = []
        for name, spec in kwargs.items():
            named.append(self._window_col(w, spec).alias(name))
        return LFrame(df.select("*", *named))

    def _window_col(self, w, spec: Any) -> SCol:
        from pyspark.sql import Window as W

        if isinstance(spec, str):
            if spec == "row_number":
                return F.row_number().over(w)
            if spec == "rank":
                return F.rank().over(w)
            if spec == "dense_rank":
                return F.dense_rank().over(w)
            if spec.startswith("ntile:"):
                return F.ntile(int(spec.split(":", 1)[1])).over(w)
            raise LoweringError(
                f"Unknown window spec {spec!r} (row_number / rank / "
                "dense_rank / ntile:<n>, or a (lag|lead|sum, expr) tuple)"
            )
        if isinstance(spec, tuple) and spec and isinstance(spec[0], str):
            fn = spec[0]
            if fn in ("lag", "lead") and len(spec) in (2, 3):
                operand = self._materialize(self.lower(spec[1])).col
                off = int(spec[2]) if len(spec) == 3 else 1
                return (F.lag if fn == "lag" else F.lead)(operand, off).over(w)
            if fn == "sum" and len(spec) == 2:
                operand = self._materialize(self.lower(spec[1])).col
                running = w.rowsBetween(W.unboundedPreceding, W.currentRow)
                return (
                    F.sum(operand.cast(self._SUM_DECIMAL))
                    .over(running)
                    .cast(T.DoubleType())
                )
        raise LoweringError(f"Bad window spec: {spec!r}")

    # aggregate call names — a nested aggregate is a boundary the peel
    # must not cross (its own _agg_value invocation peels its operand)
    _AGG_CALL_NAMES = frozenset(
        {"count", "countdistinct", "sum", "min", "max", "mean"}
    )

    def _peel_agg_filters(self, p_node: Any):
        """Split an aggregate operand into (base_node, [mask Columns]):
        event-FRAME-level filters ANYWHERE in the operand tree
        (``d[d.x == 'A'].Count()``, ``(d[m].v * 2).Sum()``,
        ``d[m].v.round(2).Sum()``) peel off as boolean masks so the
        aggregate can evaluate them CONDITIONALLY within the group —
        SQL's ``count(*) FILTER (WHERE ...)`` — instead of silently
        aggregating the whole group (the round-9 DSL-unpivot review
        caught the attr case; the round-9 self-review caught the same
        silent drop under bin/scalar-call/ufunc nodes, so the peel now
        recurses through those and REBUILDS the operand on the
        unfiltered base; masks from different branches conjoin — a row
        contributes only where every branch admits it).  Element-level
        filters (masks over nested collections) are left intact — they
        lower to F.filter inside the array as before."""
        CNode, DNode = Column, DataFrame

        if not isinstance(p_node, Node):
            return p_node, []
        if p_node.op == "filter":
            parent_node, mask_node = p_node.args
            base, masks = self._peel_agg_filters(parent_node)
            low_mask = self.lower(mask_node)
            if isinstance(low_mask, LCol) and not low_mask.is_collection:
                return base, masks + [low_mask.col]
            if masks:
                # element-level mask ABOVE already-peeled frame masks
                # (d[frame_mask].items[elem_mask].v.Sum()): rebuild the
                # element filter on the UNfiltered base and keep the
                # frame masks — returning (p_node, []) here silently
                # dropped frame_mask and aggregated the whole group
                # (round-10 ADVICE; the same silent-drop class the
                # attr/bin/call recursion was added to fix).
                return DataFrame("filter", base, mask_node), masks
            return p_node, []  # element-level mask only: not a frame filter
        if p_node.op == "attr":
            parent_node, name = p_node.args
            base, masks = self._peel_agg_filters(parent_node)
            if masks:
                # re-root the attribute on the UNfiltered base (attr
                # nodes are memoized per parent, so this is the shared
                # capture node, not a fresh one)
                return getattr(base, name), masks
            return p_node, []
        if p_node.op in ("bin", "cmp"):
            opname, left, right = p_node.args
            lb, lm = self._peel_agg_filters(left)
            rb, rm = self._peel_agg_filters(right)
            if lm or rm:
                cls = DNode if p_node.op == "bin" else CNode
                return cls(p_node.op, opname, lb, rb), lm + rm
            return p_node, []
        if p_node.op in ("and", "or"):
            lb, lm = self._peel_agg_filters(p_node.args[0])
            rb, rm = self._peel_agg_filters(p_node.args[1])
            if lm or rm:
                return CNode(p_node.op, lb, rb), lm + rm
            return p_node, []
        if p_node.op == "not":
            b, m = self._peel_agg_filters(p_node.args[0])
            if m:
                return CNode("not", b), m
            return p_node, []
        if p_node.op == "ufunc":
            name, *ops = p_node.args
            peeled = [self._peel_agg_filters(o) for o in ops]
            masks = [mc for _, ms in peeled for mc in ms]
            if masks:
                return DNode("ufunc", name, *[b for b, _ in peeled]), masks
            return p_node, []
        if p_node.op == "call":
            parent_node, name, cargs, ckw = p_node.args
            if name.lower() in self._AGG_CALL_NAMES:
                return p_node, []  # nested aggregate: its own peel applies
            base, masks = self._peel_agg_filters(parent_node)
            if masks:
                return DNode("call", base, name, cargs, ckw), masks
            return p_node, []
        return p_node, []

    def _agg_value(self, node: Any) -> SCol:
        """Lower an aggregate-context expression: Count/Sum/Min/Max/Mean
        calls become SQL aggregates over their (event-level) operand;
        frame-level filters in the operand become conditional aggregates
        (``count(*) FILTER`` semantics); bin arithmetic composes
        aggregates; literals pass through."""
        if not isinstance(node, Node):
            return self._lit(node)
        if node.op == "bin":
            opname, left, right = node.args
            return _BIN_OPS[opname](self._agg_value(left), self._agg_value(right))
        if node.op == "call":
            p_node, mname, cargs, ckw = node.args
            m = mname.lower()
            if m not in ("count", "countdistinct", "sum", "min", "max",
                         "mean"):
                raise LoweringError(
                    f"Aggregate {mname!r} not supported in .agg() "
                    "(Count/CountDistinct/Sum/Min/Max/Mean)"
                )
            base_node, masks = self._peel_agg_filters(p_node)
            mask: Optional[SCol] = None
            for mc in masks:
                mask = mc if mask is None else (mask & mc)
            plow = self.lower(base_node)
            if m == "countdistinct":
                if isinstance(plow, LFrame):
                    raise LoweringError(
                        ".CountDistinct() needs a column operand"
                    )
                mat = self._materialize(plow)
                if mat.is_collection:
                    raise LoweringError(
                        ".CountDistinct() over a nested collection inside "
                        ".agg() is not supported — .explode() first"
                    )
                c = mat.col
                return F.count_distinct(
                    F.when(mask, c) if mask is not None else c
                )
            if m == "count":
                if isinstance(plow, LFrame):
                    if mask is not None:
                        return F.count(F.when(mask, F.lit(1)))
                    return F.count(F.lit(1))  # frame.Count() → COUNT(*)
                mat = self._materialize(plow)
                if mat.is_collection:
                    # collection.Count() in a GROUP aggregate = total
                    # NON-NULL elements across the group's rows (per-row
                    # nested size, then SUM — round 10: previously
                    # F.count over the raw array column counted ROWS,
                    # and Sum/Mean over collections failed with an
                    # array-cast analysis error).  NULL elements are
                    # ignored like COUNT(col), consistent with the
                    # Sum/Mean branch below.
                    per = F.size(
                        F.filter(mat.col, lambda x: x.isNotNull())
                    ).cast(T.LongType())
                    if mask is not None:
                        per = F.when(mask, per)
                    return F.coalesce(F.sum(per), F.lit(0)).cast(
                        T.LongType()
                    )
                c = mat.col
                return F.count(F.when(mask, c) if mask is not None else c)
            mat = self._materialize(plow)
            if mat.is_collection:
                # SQL aggregate semantics: NULL elements are IGNORED, not
                # poisoning — the raw decimal fold turns a whole row's sum
                # NULL on one NULL element, which F.sum then silently
                # EXCLUDES while the size-based Mean denominator still
                # counts that row's elements (round-10 review repro: Sum
                # lost a row's non-null values, Mean was inconsistent
                # under any definition).  Filter NULLs once; Sum/Mean/
                # Count then agree on exactly the non-null element set
                # (COUNT(col) semantics), like their scalar-column twins.
                arr = F.filter(mat.col, lambda x: x.isNotNull())
                if m in ("sum", "mean"):
                    per_s = self._decimal_fold(arr)
                    if mask is not None:
                        per_s = F.when(mask, per_s)
                    total = F.sum(per_s.cast(self._SUM_DECIMAL)).cast(
                        T.DoubleType()
                    )
                    if m == "sum":
                        return total
                    per_n = F.size(arr).cast(T.LongType())
                    if mask is not None:
                        per_n = F.when(mask, per_n)
                    # mean over all non-null elements in the group:
                    # Σfold / Σsize (try_divide: null when empty)
                    return F.try_divide(total, F.sum(per_n))
                per = (F.array_min if m == "min" else F.array_max)(arr)
                if mask is not None:
                    per = F.when(mask, per)
                return (F.min if m == "min" else F.max)(per)
            c = mat.col
            if mask is not None:
                c = F.when(mask, c)
            if m == "sum":
                return F.sum(c.cast(self._SUM_DECIMAL)).cast(T.DoubleType())
            if m == "mean":
                denom = (
                    F.count(F.when(mask, F.lit(1)))
                    if mask is not None
                    else F.count(F.lit(1))
                )
                return F.sum(c.cast(self._SUM_DECIMAL)).cast(
                    T.DoubleType()
                ) / denom
            return (F.min if m == "min" else F.max)(c)
        raise LoweringError(
            f"Cannot lower {node.op!r} inside .agg() — aggregate "
            "expressions are Count/Sum/Min/Max/Mean calls and arithmetic "
            "over them"
        )

    # -- scalar string/date sugar (round 8, the last M4 breadth gap) -----------
    #
    # Captured method calls on VALUE nodes (``d.p_name.lower()``,
    # ``d.o_orderdate.year()``, ``d.items.l_returnflag.substr(1, 1)``)
    # lower through _lift_unary, so they apply at the event level AND
    # per-element inside nested collections for free — all JVM-side
    # Column expressions, never Python.

    def _scalar_call(self, name, parent_node, args, kwargs, n_args, fn):
        if kwargs or len(args) != n_args or any(
            isinstance(a, Node) for a in args
        ):
            raise LoweringError(
                f".{name}() takes exactly {n_args} literal argument(s)"
            )
        return self._lift_unary(fn, parent_node)

    def _call_lower(self, parent_node, parent, args, kwargs):
        return self._scalar_call("lower", parent_node, args, kwargs, 0, F.lower)

    def _call_upper(self, parent_node, parent, args, kwargs):
        return self._scalar_call("upper", parent_node, args, kwargs, 0, F.upper)

    def _call_length(self, parent_node, parent, args, kwargs):
        return self._scalar_call(
            "length",
            parent_node,
            args,
            kwargs,
            0,
            lambda c: F.length(c).cast(T.LongType()),
        )

    def _call_trim(self, parent_node, parent, args, kwargs):
        return self._scalar_call("trim", parent_node, args, kwargs, 0, F.trim)

    def _call_substr(self, parent_node, parent, args, kwargs):
        return self._scalar_call(
            "substr",
            parent_node,
            args,
            kwargs,
            2,
            lambda c, a=args: c.substr(int(a[0]), int(a[1])),
        )

    def _call_like(self, parent_node, parent, args, kwargs):
        return self._scalar_call(
            "like", parent_node, args, kwargs, 1,
            lambda c, a=args: c.like(str(a[0])),
        )

    def _call_contains(self, parent_node, parent, args, kwargs):
        return self._scalar_call(
            "contains", parent_node, args, kwargs, 1,
            lambda c, a=args: c.contains(str(a[0])),
        )

    def _call_startswith(self, parent_node, parent, args, kwargs):
        return self._scalar_call(
            "startswith", parent_node, args, kwargs, 1,
            lambda c, a=args: c.startswith(str(a[0])),
        )

    def _call_year(self, parent_node, parent, args, kwargs):
        return self._scalar_call(
            "year", parent_node, args, kwargs, 0,
            lambda c: F.year(c).cast(T.LongType()),
        )

    def _call_month(self, parent_node, parent, args, kwargs):
        return self._scalar_call(
            "month", parent_node, args, kwargs, 0,
            lambda c: F.month(c).cast(T.LongType()),
        )

    def _call_dayofmonth(self, parent_node, parent, args, kwargs):
        return self._scalar_call(
            "dayofmonth", parent_node, args, kwargs, 0,
            lambda c: F.dayofmonth(c).cast(T.LongType()),
        )

    def _call_round(self, parent_node, parent, args, kwargs):
        return self._scalar_call(
            "round", parent_node, args, kwargs, 1,
            lambda c, a=args: F.round(c, int(a[0])),
        )

    def _call_cast(self, parent_node, parent, args, kwargs):
        return self._scalar_call(
            "cast", parent_node, args, kwargs, 1,
            lambda c, a=args: c.cast(str(a[0])),
        )

    # -- user functions → pandas UDF --------------------------------------------

    def _lower_udf(self, node: Node) -> Any:
        captured, args = node.args
        lowered = [self.lower(a) for a in args]
        if any(isinstance(a, LElem) for a in lowered):
            raise LoweringError("@user_func over per-element values: materialize first")
        cols = [a.col if isinstance(a, LCol) else self._lit(a) for a in lowered]
        return LCol(captured.spark_udf()(*cols))

    # -- materialization ---------------------------------------------------------

    def _materialize(self, low: Any) -> LCol:
        if isinstance(low, LCol):
            return low
        if isinstance(low, LElem):
            src = self.lower(low.source)
            if isinstance(src, LCol) and src.is_collection:
                return LCol(F.transform(src.col, low.fn), True, None)
            if isinstance(src, LElem):
                # deeper nesting: map one level down and recurse — the
                # value materializes as nested arrays
                sfn, lfn = src.fn, low.fn
                return self._materialize(
                    LElem(src.source, lambda e: F.transform(sfn(e), lfn), None)
                )
            raise LoweringError("Per-element expression over a non-collection")
        if isinstance(low, LFrame):
            raise LoweringError("Expected a column expression, got an event frame")
        return LCol(self._lit(low))


# ---------------------------------------------------------------------------
# Convenience entry points
# ---------------------------------------------------------------------------


def to_spark(root: DataFrame, base_df: SDF, node: DataFrame) -> SDF:
    """Lower ``node`` (an event frame) to a Spark DataFrame."""
    return Lowerer(root, base_df).frame(node)


def select(
    root: DataFrame, base_df: SDF, frame: DataFrame, **columns: Node
) -> SDF:
    """Lower an event frame plus named column expressions in ONE shared
    lowering context (shared sub-DAGs lower once — CSE identity, reference:
    render.py memo discipline)."""
    low = Lowerer(root, base_df)
    df = low.frame(frame)
    return df.select(*[low.column(node).alias(name) for name, node in columns.items()])


def select_from(
    bindings: "dict[DataFrame, SDF]", frame: DataFrame, **columns: Node
) -> SDF:
    """Multi-source variant of ``select`` (round 7, SURVEY §7 M4):
    ``bindings`` maps every root ``DataFrame()`` node the expression
    references to its Spark DataFrame, so captured joins lower in ONE
    shared memoized context.  ``select_from({d: orders, d2: customer},
    d.join(d2, on=d.o_custkey == d2.c_custkey), ...)``."""
    items = list(bindings.items())
    if not items:
        raise LoweringError("select_from requires at least one binding")
    (root, base), others = items[0], dict(items[1:])
    low = Lowerer(root, base, others)
    df = low.frame(frame)
    if not columns:
        return df
    return df.select(
        *[low.column(node).alias(name) for name, node in columns.items()]
    )


def render(root: DataFrame, base_df: SDF, node: Node):
    """Reference-API-parity entry point (reference: render.py ``render``):
    lower a node and return ``(lowered, context)`` — the lowered value is
    a Spark DataFrame for event frames or a ``pyspark.sql.Column`` for
    expressions, and the context is the memoizing ``Lowerer``, reusable
    for incremental re-renders exactly like the reference's
    ``render_context``."""
    ctx = Lowerer(root, base_df)
    low = ctx.lower(node)
    if isinstance(low, LFrame):
        return low.df, ctx
    return ctx.column(node), ctx


def render_callable(ctx: "Lowerer", fn, collection: Node):
    """Reference-API parity (reference: render.py ``render_callable``):
    expand a deferred lambda against the elements of ``collection`` inside
    an existing context, returning the resulting per-element Column."""
    proxy = DataFrame("elemvar", collection)
    return ctx.column(fn(proxy))
