"""Interleaved A/B for the r7 `hits` loop reshape at sf0.1 (bench noise on
this box swings sequential blocks 1.3-4x — only interleaved min-of-N in ONE
session adjudicates a perf claim; see BASELINE.md r5/r6 notes).

Arm `zerofree`: current model.hits — per half-step ONE edge join + agg;
               zero-score rows elided (exact IEEE no-ops) and rejoined via
               a single final left join.
Arm `leftjoin`: the exact commit-a5cdd53 shape — per half-step the edge
               join + agg PLUS a nodes left-join materializing explicit
               0.0 rows, raw frames cached, round-4 lineage truncate
               (verbatim body; a reconstruction WITHOUT the truncate is
               pathological — Catalyst analysis grows unboundedly — and
               must not be used as a baseline arm).

Scores are bit-identical between arms. Recorded result (BASELINE.md r7):
min-of-3 per arm, one session: zerofree 9.90 s vs leftjoin 12.64 s = 0.78x,
every interleaved pair in favor.

Usage: python tools/ab_hits.py [sf_dir] [reps]
Prints one JSON line with min/median per arm and the ratio.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import DataFrame, functions as F  # noqa: E402

from reddit_twitter_big_data_pipeline_spark import schemas, session  # noqa: E402
from reddit_twitter_big_data_pipeline_spark.checkpointing import (  # noqa: E402
    truncate_lineage as _truncate,
)
from reddit_twitter_big_data_pipeline_spark.operators import model  # noqa: E402


def leftjoin_hits(edges: DataFrame, n_iter: int = 6) -> int:
    """Verbatim a5cdd53 loop body (the pre-zerofree shape), returning the
    output row count so both arms do identical terminal work."""
    e = edges.select("src", "dst").distinct().cache()
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
        .cache()
    )
    if nodes.count() == 0:
        raise RuntimeError("empty graph")
    hub = nodes.withColumn("hub", F.lit(1.0)).cache()
    caches = [e, nodes, hub]
    auth = None
    for it in range(n_iter):
        sums_a = (
            e.join(hub, e["src"] == hub["node"]).groupBy("dst").agg(F.sum("hub").alias("x"))
        )
        raw_a = (
            nodes.join(sums_a, nodes["node"] == sums_a["dst"], "left")
            .select("node", F.coalesce(F.col("x"), F.lit(0.0)).alias("v"))
            .cache()
        )
        caches.append(raw_a)
        sa = raw_a.agg(F.sum("v")).collect()[0][0]
        auth = raw_a.select("node", (F.col("v") / F.lit(sa)).alias("authority"))
        sums_h = (
            e.join(auth, e["dst"] == auth["node"])
            .groupBy("src")
            .agg(F.sum("authority").alias("x"))
        )
        raw_h = (
            nodes.join(sums_h, nodes["node"] == sums_h["src"], "left")
            .select("node", F.coalesce(F.col("x"), F.lit(0.0)).alias("v"))
            .cache()
        )
        caches.append(raw_h)
        sh = raw_h.agg(F.sum("v")).collect()[0][0]
        hub = raw_h.select("node", (F.col("v") / F.lit(sh)).alias("hub"))
        if (it + 1) % 4 == 0:
            hub = _truncate(hub)
    out = _truncate(hub.join(auth, "node").select("node", "hub", "authority"))
    n = out.count()
    for c in caches:
        c.unpersist()
    return n


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    reps = int(sys.argv[2]) if len(sys.argv) > 2 else 3
    spark = session.get_spark(cpus=int(os.environ.get("SPARK_GRAFT_CPUS", "32")))

    li = schemas.load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    orders = schemas.load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    edges = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .select(
            F.col("l_suppkey").alias("src"),
            (F.col("o_custkey") + 1_000_000).alias("dst"),
        )
        .distinct()
    )

    arms = {
        "zerofree": lambda: model.hits(edges, n_iter=6).count(),
        "leftjoin": lambda: leftjoin_hits(edges, n_iter=6),
    }
    rows: dict[str, int] = {}
    for name, fn in arms.items():  # warm both arms (JIT, page cache)
        t0 = time.time()
        rows[name] = fn()
        print(f"warm {name}: {time.time() - t0:.2f}s", file=sys.stderr, flush=True)
    assert rows["zerofree"] == rows["leftjoin"], rows
    times: dict[str, list[float]] = {k: [] for k in arms}
    for rep in range(reps):
        for name, fn in arms.items():
            t0 = time.time()
            fn()
            times[name].append(time.time() - t0)
            print(f"rep{rep} {name}: {times[name][-1]:.2f}s", file=sys.stderr, flush=True)
    out = {
        arm: {"min": round(min(ts), 3), "median": round(statistics.median(ts), 3)}
        for arm, ts in times.items()
    }
    out["ratio_min"] = round(out["zerofree"]["min"] / out["leftjoin"]["min"], 3)
    out["rows"] = rows["zerofree"]
    print(json.dumps(out))


if __name__ == "__main__":
    main()
