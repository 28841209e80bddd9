"""Table ops (half of ``registry_table``): a fresh bucketed copy-on-write
table under write and read load, one seeded change batch per cycle.

The table starts as the generated ``orders`` (16 buckets, bucket =
``o_orderkey mod 16``).  Each cycle builds a change batch that touches
two seeded buckets: 400 updates of existing keys (price += a non-zero
delta) and 200 inserts of new keys.  A cycle is these ops, each timed
on its own:

* ``merge``: ``merge_into_bucketed`` of the batch;
* ``read``: the new snapshot, aggregated per order status;
* ``feed``: the change feed since the previous version;
* ``travel``: the snapshot two versions back (v0 at first);
* ``compact``: ``compact_buckets`` then ``vacuum``
  keeping four versions.  Merges write one file per touched bucket, so
  compaction finds nothing to rewrite and commits no version; the op
  times the file listing and the vacuum's deletes.

One round is one cycle: these 5 ops.  Writes and reads share the table, so
a faster write that leaves more files shows up in the reads.

The check is a DuckDB model of the table: the same upserts applied with
SQL to the same starting parquet.  Every snapshot read is compared with
the model's state at that version; every version number is checked
against the count of merges and compactions so far (versions = commits
+ 1); the feed's row count by change type is checked against the batch.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd

from .check import mismatch
from .workload import Workload

N_BUCKETS = 16
BUCKETS_PER_BATCH = 2
N_UPDATES = 400
OPS = ("merge", "read", "feed", "travel", "compact")
KEEP_VERSIONS = 4
COLS = ("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")

AGG_SQL = ("SELECT o_orderstatus, count(*) AS n, sum(o_orderkey) AS sum_key, "
           "CAST(sum(CAST(o_totalprice AS DECIMAL(38,2))) AS VARCHAR) "
           "AS sum_price FROM {src} GROUP BY o_orderstatus")


def _dir_mb(path: str) -> float:
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(dirpath, f))
                     for f in files)
    return total / (1024.0 * 1024.0)


class TableMerge(Workload):

    def setup(self, ctx) -> None:
        from dataframe_expressions_spark.sources.mergetable import (
            commit_bucketed)

        self.root = os.path.join(ctx.work_dir, "table")
        self.rng = ctx.rng
        base = pd.read_parquet(os.path.join(ctx.data_dir, "orders.parquet"))
        self.keys = {b: list(base.o_orderkey[base.o_orderkey % N_BUCKETS == b])
                     for b in range(N_BUCKETS)}
        self.next_key = int(base.o_orderkey.max()) + 1
        self.next_key += (-self.next_key) % N_BUCKETS
        # 400 updates and 200 inserts per batch; fewer on a tiny table
        self.n_upd = min(N_UPDATES, len(base) // 64)
        self.n_ins = self.n_upd // 2 // BUCKETS_PER_BATCH * BUCKETS_PER_BATCH
        self.template = base.iloc[:self.n_ins].reset_index(drop=True)
        with ctx.tracer.span("mergetable.create"):
            commit_bucketed(ctx.spark.read.parquet(
                os.path.join(ctx.data_dir, "orders.parquet")),
                self.root, 0, on="o_orderkey", n_buckets=N_BUCKETS,
                hashed=False)
        self.version = 0
        # model state: the DuckDB table and each version's aggregate
        self.model = ctx.duck()
        self.model.execute(f"CREATE TABLE model AS SELECT {', '.join(COLS)} "
                           "FROM orders")
        self.model_aggs = {0: self._model_agg()}
        self.pending = {}

    # -- the change batch ---------------------------------------------------

    def _batch(self) -> pd.DataFrame:
        rng = self.rng
        buckets = rng.choice(N_BUCKETS, BUCKETS_PER_BATCH, replace=False)
        pool = np.concatenate([np.asarray(self.keys[int(b)]) for b in buckets])
        n_upd, n_ins = self.n_upd, self.n_ins
        upd = rng.choice(pool, n_upd, replace=False)
        per = n_ins // BUCKETS_PER_BATCH
        ins = np.concatenate([self.next_key + N_BUCKETS * np.arange(per) + b
                              for b in buckets])
        self.next_key += N_BUCKETS * per
        for b in buckets:
            self.keys[int(b)].extend(int(k) for k in ins if k % N_BUCKETS == b)
        t = self.template
        batch = pd.DataFrame({
            "o_orderkey": np.concatenate([upd, ins]).astype(np.int64),
            "delta": np.concatenate([rng.integers(1, 100_000, n_upd) / 100.0,
                                     np.zeros(n_ins)]),
            "o_custkey": np.concatenate([np.zeros(n_upd, np.int64),
                                         t.o_custkey.to_numpy()]),
            "o_orderstatus": ["O"] * n_upd + list(t.o_orderstatus),
            "o_totalprice": np.concatenate([np.zeros(n_upd),
                                            t.o_totalprice.to_numpy()]),
            "o_orderdate": np.concatenate([
                np.full(n_upd, np.datetime64("2000-01-01", "us")),
                t.o_orderdate.to_numpy().astype("datetime64[us]")]),
            "o_orderpriority": ["1-URGENT"] * n_upd + list(t.o_orderpriority),
            "is_insert": [False] * n_upd + [True] * n_ins,
        })
        return batch

    def _model_apply(self, batch: pd.DataFrame) -> None:
        con = self.model
        con.register("batch", batch)
        con.execute("UPDATE model SET o_totalprice = model.o_totalprice + "
                    "b.delta FROM batch b WHERE NOT b.is_insert AND "
                    "model.o_orderkey = b.o_orderkey")
        con.execute(f"INSERT INTO model SELECT {', '.join(COLS)} FROM batch "
                    "WHERE is_insert")
        con.unregister("batch")

    def _model_agg(self) -> pd.DataFrame:
        return self.model.execute(AGG_SQL.format(src="model")).df()

    # -- ops ----------------------------------------------------------------

    def ops(self) -> "list[str]":
        return list(OPS)

    def label(self, op: str) -> str:
        return op

    @staticmethod
    def _aggregate(df):
        from pyspark.sql import functions as F

        return df.groupBy("o_orderstatus").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("o_orderkey").alias("sum_key"),
            F.sum(F.col("o_totalprice").cast("decimal(38,2)"))
            .cast("string").alias("sum_price"))

    def run(self, ctx, op: str):
        from dataframe_expressions_spark.sources import mergetable as mt

        kind = op
        spark = ctx.spark
        if kind == "merge":
            batch = self.pending.pop("batch")
            src = self.pending.pop("src")
            with ctx.phase("mergetable.merge"):
                v = mt.merge_into_bucketed(
                    spark, self.root, src,
                    matched_update={"o_totalprice": "t.o_totalprice + s.delta"},
                    not_matched_insert={c: f"s.{c}" for c in COLS[1:]})
            return {"version": v, "batch": batch}
        if kind == "read":
            with ctx.phase("mergetable.read"):
                df = mt.read_bucketed(spark, self.root)
                if ctx.tracer.on:
                    ctx.tracer.add("mergetable.files_read",
                                   len(df.inputFiles()))
                return {"version": self.version,
                        "agg": self._aggregate(df).toPandas()}
        if kind == "feed":
            with ctx.phase("mergetable.feed"):
                feed = mt.feed_since(spark, self.root, self.version - 1)
                return {"feed": feed.groupBy("change_type").count().toPandas()}
        if kind == "travel":
            n = max(0, self.version - 2)
            with ctx.phase("mergetable.travel"):
                df = mt.read_bucketed(spark, self.root, n)
                return {"version": n,
                        "agg": self._aggregate(df).toPandas()}
        with ctx.phase("mergetable.compact"):
            v = mt.compact_buckets(spark, self.root)
            mt.vacuum(self.root, keep=KEEP_VERSIONS)
        return {"version": v}

    def before(self, ctx, op: str) -> None:
        """Untimed: the client prepares the next change batch."""
        if op == "merge":
            batch = self._batch()
            self.pending["batch"] = batch
            self.pending["src"] = ctx.spark.createDataFrame(
                batch.drop(columns=["is_insert"]))

    def after(self, ctx, op: str, out: dict) -> "list[str]":
        """Untimed: advance the model and check ``out`` against it."""
        from dataframe_expressions_spark.sources.mergetable import (
            commit_meta, latest_version)

        kind, bad = op, []
        if kind in ("merge", "compact"):
            # a merge always commits; compaction commits only when some
            # bucket holds more than one file (merges write one per bucket)
            committed = kind == "merge" or out["version"] != self.version
            self.version += committed
            if out["version"] != self.version:
                bad.append(f"{kind}: version {out['version']} != "
                           f"{self.version} (versions = commits + 1)")
            if latest_version(self.root) != self.version:
                bad.append(f"{kind}: latest {latest_version(self.root)}")
            if kind == "merge":
                self._model_apply(out["batch"])
            self.model_aggs[self.version] = self._model_agg()
            if ctx.tracer.on and committed:
                meta = commit_meta(self.root, self.version)
                touched = meta.get("touched_buckets",
                                   meta.get("compacted_buckets", []))
                ctx.tracer.add("mergetable.buckets_rewritten", len(touched))
                ctx.tracer.add("mergetable.written_mb", _dir_mb(
                    os.path.join(self.root, f"v{self.version}")))
        elif kind in ("read", "travel"):
            diff = mismatch(out["agg"], self.model_aggs[out["version"]])
            if diff:
                bad.append(f"{kind} v{out['version']}: {diff}")
        elif kind == "feed":
            got = dict(zip(out["feed"].change_type, out["feed"]["count"]))
            want = {"insert": self.n_ins, "update_preimage": self.n_upd,
                    "update_postimage": self.n_upd}
            if got != want:
                bad.append(f"feed: {got} != {want}")
        return bad
