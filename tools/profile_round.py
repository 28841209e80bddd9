"""Optimization profiler: per-query build-vs-execute split and
.explain("formatted") capture, for one optimization round.

The bench's timed region is ``fn(spark, sf_dir)`` + a noop write, so a
query's cost decomposes into (a) Python construction + Catalyst
analysis/planning on the driver and (b) the executed jobs — including
any eager actions (localCheckpoint / count / collect) the builder fires
*inside* fn.  This tool separates them so a round targets the right
lever per id (measure first; planning time is driver-side
single-threaded work).

Usage:
  python tools/profile_round.py r17 before qid [qid ...]   # capture plans + timings
  python tools/profile_round.py r17 after  qid [qid ...]
  python tools/profile_round.py r17 before --top N         # N most anchor-expensive

Writes plans/<round>/<qid>_<phase>.txt, merges the records into
plans/<round>/_profile_<phase>.json and prints one JSON line per qid:
{"qid":..., "build_s":..., "exec_s":..., "total_s":..., "n":samples}
build_s times fn() (captures eager in-fn actions + analysis);
exec_s times the noop write of the returned frame.  The formatted plan
is captured after the timed samples, so no sample includes its cost.
"""

from __future__ import annotations

import argparse
import contextlib
import glob
import io
import json
import os
import re
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def _top_qids(n: int) -> list:
    """The ``n`` most expensive ids of the newest bench anchor."""
    cands = glob.glob(os.path.join(REPO, "bench_anchor_r*.json"))
    if not cands:
        sys.exit("--top needs a bench_anchor_r*.json in the repo root; none found")
    newest = max(cands, key=lambda p: int(re.search(r"_r(\d+)", p).group(1)))
    with open(newest) as fh:
        anchor = json.load(fh)["queries"]
    return sorted(anchor, key=anchor.get, reverse=True)[:n]


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("round", help="round tag, e.g. r17: output goes to plans/<round>/")
    ap.add_argument("phase", help="before | after (file-name suffix)")
    ap.add_argument("qids", nargs="*")
    ap.add_argument("--top", type=int, help="profile the N most anchor-expensive ids")
    args = ap.parse_args()
    if not args.qids and not args.top:
        ap.error("give query ids or --top N")
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    reps = int(os.environ.get("SPARK_GRAFT_PROFILE_REPS", "2"))

    from dataframe_expressions_spark.operators.registry import load_all
    from dataframe_expressions_spark.session import get_spark

    queries = load_all()
    qids = args.qids or _top_qids(args.top)

    spark = get_spark(f"profile_{args.round}")
    from pyspark.sql import functions as F

    # same warm-ups as bench.py's cheap core (JVM, shuffle, HOF, Arrow)
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

    plans_dir = os.path.join(REPO, "plans", args.round)
    os.makedirs(plans_dir, exist_ok=True)

    import gc

    out = {}
    for qid in qids:
        # Same dual-GC discipline as bench.py between queries: Spark's
        # ContextCleaner frees localCheckpoint blocks via WEAK refs that
        # only enqueue at a JVM GC — without this, a long profile session
        # accumulates every query's checkpoint state and late ids read
        # 2-6x high (observed: agg_groupby 3.08 s in a 299-id sweep vs
        # 1.25 s in a short session, same code).
        gc.collect()
        spark._jvm.System.gc()
        q = queries[qid]
        samples = []
        for _ in range(reps):
            spark.sparkContext.setJobDescription(f"{args.round}-profile:{qid}")
            t0 = time.perf_counter()
            df = q.fn(spark, sf_dir)
            t1 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            t2 = time.perf_counter()
            samples.append((t1 - t0, t2 - t1))
            spark.sparkContext.setJobDescription(None)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        best = min(samples, key=lambda s: s[0] + s[1])
        rec = {
            "qid": qid,
            "build_s": round(best[0], 3),
            "exec_s": round(best[1], 3),
            "total_s": round(best[0] + best[1], 3),
            "n": len(samples),
            "all": [[round(a, 3), round(b, 3)] for a, b in samples],
        }
        out[qid] = rec
        print(json.dumps(rec), flush=True)
        with open(os.path.join(plans_dir, f"{qid}_{args.phase}.txt"), "w") as fh:
            fh.write(buf.getvalue())
    summary_path = os.path.join(plans_dir, f"_profile_{args.phase}.json")
    merged = {}
    if os.path.exists(summary_path):
        with open(summary_path) as fh:
            merged = json.load(fh)
    merged.update(out)
    with open(summary_path, "w") as fh:
        json.dump(merged, fh, indent=1, sort_keys=True)


if __name__ == "__main__":
    main()
