"""Round-16 item 1 (r15 VERDICT): same-session interleaved A/B of the
contested eager-checkpoint ids.

Three r15 checkpoint-adds won their same-session A/Bs but read WORSE on
both independent cross-session measurements (r15 anchor AND the driver's
c8 detail vs the r14 anchor): rank_bm25, tpch_q2_min_cost_supplier,
dedup_incremental (plus the builder-flagged dedup_incremental_minhash,
dq_duplicate_cluster_stats).  The host's proven +/-25% session noise
makes cross-session numbers undecidable, so this tool re-runs the A/B
the only defensible way: ONE session, alternating A/B/A/B..., 5 reps
per variant by default (``SPARK_GRAFT_AB_REPS``), min-of-reps (noise is
one-sided), noop sink (bench.py's exact timed statistic).

Variant A = current code.  Variant B = identical code with EVERY
``DataFrame.localCheckpoint`` call turned into the identity (monkey-
patched for the duration of the B run) — i.e. "the checkpoint(s)
removed", which is exactly the 3-line revert the verdict asks about.

Usage: python tools/ab_checkpoint_r16.py qid [qid ...]
Prints one JSON line per qid: {"qid":..., "A": [...], "B": [...],
"A_min":..., "B_min":..., "winner":...}
"""

from __future__ import annotations

import gc
import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

REPS = int(os.environ.get("SPARK_GRAFT_AB_REPS", "5"))


def main() -> None:
    qids = sys.argv[1:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from pyspark.sql import DataFrame
    from pyspark.sql import functions as F

    from dataframe_expressions_spark.operators.registry import load_all
    from dataframe_expressions_spark.session import get_spark

    queries = load_all()
    spark = get_spark("ab_checkpoint_r16")

    # bench.py's warm-ups (JVM, shuffle, HOF, Arrow, localCheckpoint dirs)
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    li.count()
    li.groupBy("l_returnflag").count().collect()
    spark.range(8).select(
        F.aggregate(F.array(F.col("id")), F.lit(0).cast("long"),
                    lambda a, x: a + x)
    ).collect()
    spark.range(8).toPandas()
    spark.range(64).repartition(32).mapInPandas(
        lambda it: it, "id long"
    ).write.format("noop").mode("overwrite").save()
    spark.range(1024).localCheckpoint(eager=True).count()

    real_ckpt = DataFrame.localCheckpoint

    def no_ckpt(self, eager=True):  # noqa: ANN001
        return self

    def run(qid: str, disable: bool) -> float:
        DataFrame.localCheckpoint = no_ckpt if disable else real_ckpt
        try:
            spark.sparkContext.setJobDescription(
                f"ab:{qid}:{'B-nockpt' if disable else 'A-ckpt'}"
            )
            t0 = time.perf_counter()
            df = queries[qid].fn(spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            return round(time.perf_counter() - t0, 3)
        finally:
            DataFrame.localCheckpoint = real_ckpt
            spark.sparkContext.setJobDescription(None)

    for qid in qids:
        # one untimed warm run per variant so neither side pays
        # first-touch costs inside its samples
        run(qid, False)
        run(qid, True)
        a: list[float] = []
        b: list[float] = []
        for _ in range(REPS):
            gc.collect()
            spark._jvm.System.gc()
            a.append(run(qid, False))
            b.append(run(qid, True))
        rec = {
            "qid": qid,
            "A_ckpt": a,
            "B_nockpt": b,
            "A_min": min(a),
            "B_min": min(b),
            "winner": "A(keep ckpt)" if min(a) <= min(b) else "B(revert)",
        }
        print(json.dumps(rec), flush=True)


if __name__ == "__main__":
    main()
