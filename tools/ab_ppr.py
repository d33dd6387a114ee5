"""Interleaved A/B for the r8 `personalized_pagerank` loop change at sf0.1
(ADVICE r7 / VERDICT r7 item 3): the eager per-round `nxt.count()` was
redundant — the NEXT round's dangling-mass collect reads the cached frame
end-to-end and materializes it anyway — and every iteration's cache was
held until function exit. The r8 body drops the count (one fewer full job
per round, the `hits` materialize-via-collect shape) and releases iteration
caches rolling (at most two rank frames pinned). Scores are bit-identical:
the float-op order per round is untouched; only job COUNT and cache
lifetime change.

Arm `lazy`:  current model.personalized_pagerank (r8 body).
Arm `eager`: the exact r7 commit-f361196 loop body — per-round eager
             nxt.count() after the cache, all per-iteration caches held to
             exit (verbatim reconstruction of `git show
             f361196:...operators/model.py`).

Bench noise on this box swings sequential blocks 1.3-4x; only interleaved
min-of-N in ONE session adjudicates a perf claim (BASELINE.md r5/r6 notes).

Usage: python tools/ab_ppr.py [sf_dir] [reps]
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


def eager_ppr(edges: DataFrame, sources: DataFrame, n_iter: int = 8) -> int:
    """Verbatim f361196 loop body (eager count, caches held to exit),
    returning the output row count so both arms do identical terminal
    work."""
    damping = 0.85
    e = edges.select("src", "dst")
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
        .cache()
    )
    s = sources.select("node").distinct().join(nodes, "node").cache()
    ns = s.count()
    if ns == 0 or nodes.count() == 0:
        raise RuntimeError("empty graph/seeds")
    out_deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("deg")).cache()
    ed = e.join(out_deg, "src").cache()
    ed.count()
    p = (
        nodes.join(s.withColumn("__s", F.lit(1)), "node", "left")
        .select(
            "node",
            F.when(F.col("__s").isNotNull(), F.lit(1.0 / ns))
            .otherwise(F.lit(0.0))
            .alias("p"),
        )
        .cache()
    )
    ranks = p.select("node", F.col("p").alias("rank")).cache()
    caches = [nodes, s, out_deg, ed, p, ranks]
    for it in range(n_iter):
        dangling = (
            ranks.join(out_deg, ranks["node"] == out_deg["src"], "left_anti")
            .agg(F.sum("rank"))
            .collect()[0][0]
            or 0.0
        )
        sums = (
            ed.join(ranks, ed["src"] == ranks["node"])
            .select("dst", (F.col("rank") / F.col("deg")).alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("s"))
        )
        nxt = (
            p.join(sums, p["node"] == sums["dst"], "left")
            .select(
                "node",
                (
                    F.lit(1.0 - damping) * F.col("p")
                    + F.lit(damping)
                    * (F.coalesce(F.col("s"), F.lit(0.0)) + F.lit(dangling) * F.col("p"))
                ).alias("rank"),
            )
            .cache()
        )
        caches.append(nxt)
        if (it + 1) % 4 == 0:
            nxt = _truncate(nxt)
        nxt.count()
        ranks = nxt
    out = _truncate(ranks)
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
    seeds = spark.range(1, 51).select(F.col("id").alias("node"))

    arms = {
        "lazy": lambda: model.personalized_pagerank(edges, seeds, n_iter=8).count(),
        "eager": lambda: eager_ppr(edges, seeds, n_iter=8),
    }
    rows: dict[str, int] = {}
    for name, fn in arms.items():  # warm both arms (JIT, page cache)
        t0 = time.time()
        rows[name] = fn()
        print(f"warm {name}: {time.time() - t0:.2f}s", file=sys.stderr, flush=True)
    assert rows["lazy"] == rows["eager"], rows
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
    out["ratio_min"] = round(out["lazy"]["min"] / out["eager"]["min"], 3)
    out["rows"] = rows["lazy"]
    print(json.dumps(out))


if __name__ == "__main__":
    main()
