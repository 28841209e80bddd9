"""Registry ops (half of ``registry_table``): registered operators, built
and executed as a user calls them: ``QUERIES[id].fn(spark, data_dir)``,
then plan, then fetch.

One round is the ids below in a seeded order.  The TPC-H ids build
their plans in ``operators/`` (with the eager schema and broadcast jobs
that building fires) and run multi-join shuffles; the streaming ids run
an AvailableNow query into a memory sink in ``streaming/`` while the
operator is built, and the fetch reads the sink.  The check is each
id's registered DuckDB oracle SQL over the same parquet.
"""

from __future__ import annotations

from .check import Repeats, mismatch
from .workload import Workload

TPCH_IDS = (
    "tpch_q3_shipping_priority",   # three-way join, top-n
    "tpch_q6_forecast_revenue",    # scan + filter + global aggregate
    "tpch_q13_cust_order_dist",    # outer join, two-level aggregate
)
# stream_tumbling (windowed aggregate, complete mode) is left out: its
# warm-up and timed calls took 9 s of a 70 s run on a 4-vCPU host, where
# a run has to stay near a minute
STREAM_IDS = (
    "stream_dsl_filter",   # capture DSL over a stream, stateless
)
IDS = TPCH_IDS + STREAM_IDS


def _staged_events_dir(data_dir: str) -> str:
    """Where ``streaming.windows`` stages the events file for the file
    stream source (a fixed ``/tmp`` path keyed on the source file)."""
    import hashlib
    import os

    st = os.stat(f"{data_dir}/events.parquet")
    ident = f"{data_dir}|{st.st_mtime_ns}|{st.st_size}"
    return f"/tmp/spark_stream_src_{hashlib.md5(ident.encode()).hexdigest()[:10]}"


class StreamProgress:
    """Counts micro-batches and their trigger time across all queries."""

    def __init__(self, spark, tracer):
        from pyspark.sql.streaming import StreamingQueryListener

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                tracer.add("streaming.batches", 1)
                tracer.add("streaming.batch_s", p.batchDuration / 1000.0)

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self.listener = _Listener()
        spark.streams.addListener(self.listener)


class RegistryExec(Workload):

    def setup(self, ctx) -> None:
        from dataframe_expressions_spark.operators.registry import load_all

        queries = load_all()
        self.queries = {i: queries[i] for i in IDS}
        order = list(IDS)
        ctx.rng.shuffle(order)
        self.order = order
        self.staged = _staged_events_dir(ctx.data_dir)
        self.repeats = Repeats()
        if ctx.tracer.on:
            self.progress = StreamProgress(ctx.spark, ctx.tracer)

    def ops(self) -> "list[str]":
        return self.order

    def label(self, qid: str) -> str:
        return qid

    def run(self, ctx, qid: str):
        build = "streaming.run" if qid in STREAM_IDS else "operators.build"
        with ctx.phase(build):
            df = self.queries[qid].fn(ctx.spark, ctx.data_dir)
        with ctx.phase("catalyst.plan"):
            ctx.plan(df)
        with ctx.phase("exec.run"):
            return df.toPandas()

    def after(self, ctx, qid: str, out) -> "list[str]":
        return self.repeats.add(qid, qid, out)

    def check(self, ctx) -> "list[str]":
        con = ctx.duck()
        bad = []
        for qid, (_, got) in self.repeats.firsts.items():
            diff = mismatch(got, con.execute(self.queries[qid].oracle).df())
            if diff:
                bad.append(f"{qid}: {diff}")
        con.close()
        return bad

    def sink_tables(self, spark) -> int:
        return sum(1 for t in spark.catalog.listTables()
                   if t.name.startswith("mem_"))

    def cleanup(self) -> None:
        import shutil

        shutil.rmtree(self.staged, ignore_errors=True)
