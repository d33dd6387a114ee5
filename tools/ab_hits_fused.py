"""Interleaved A/B for the r12 `hits` norm-collect fusion at sf0.1
(VERDICT r11 item 4). Bench noise on this box swings sequential blocks
1.3-4x — only interleaved min-of-N in ONE session adjudicates a perf
claim (BASELINE.md r5/r6 notes).

Arm `twocollect`: current model.hits — per ROUND two sequential 1-row
               collects (sa after the auth half-step, sh after the hub
               half-step), each a full local-mode job.
Arm `fused`:   the auth norm stays IN-PLAN as a broadcast 1-row
               crossJoin (`raw_a.crossJoin(broadcast(raw_a.agg(sum)))`)
               so each round runs ONE collect (sh) — the broadcast agg
               materializes the cached raw_a inside the same action.
               Per-row arithmetic is unchanged per row, but the in-plan
               broadcast agg merges partial sums in a different order
               than the collected agg, so Σv can differ in its LAST BIT
               — measured max abs diff 8.7e-19 (~1 ulp), IDENTICAL at 9
               significant digits, which is the driver gate's float
               precision. The gate below asserts 9sg equality over the
               full output and records the max abs diff.
               Plan growth is 2^rounds between round-4 truncations
               (bounded 16x), NOT the rejected full-lazy form's
               4^rounds (see hits docstring).

RECORDED RESULT (r12, sf0.1, min-of-3 interleaved, one session):
twocollect 11.68 s vs fused 35.51 s = ratio 3.04x AGAINST the fusion —
every interleaved pair against, widening per rep (35.5/38.7/44.9 s as
the uncollected lineage deepens). The saved 1-row collect per round is
worth far less than the Catalyst analysis cost of the doubled plan —
the same driver-side-analysis lesson as the BPE nested-fold A/B and the
rejected full-lazy norm. VERDICT r11 item 4 closes as measured-no-win:
`model.hits` keeps the two bounded collects per round.

Usage: python tools/ab_hits_fused.py [sf_dir] [reps]
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


def _loop(edges: DataFrame, n_iter: int, fused: bool) -> DataFrame:
    """Both arms share one body; `fused` picks the auth-norm strategy."""
    e = edges.select("src", "dst").distinct().cache()
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
        .cache()
    )
    nodes.count()
    hub = nodes.withColumn("hub", F.lit(1.0)).cache()
    caches = [e, nodes, hub]
    auth = None
    for it in range(n_iter):
        raw_a = (
            e.join(hub, e["src"] == hub["node"])
            .groupBy("dst")
            .agg(F.sum("hub").alias("v"))
        ).cache()
        caches.append(raw_a)
        if fused:
            norm_a = raw_a.agg(F.sum("v").alias("__sa"))
            auth = raw_a.crossJoin(F.broadcast(norm_a)).select(
                F.col("dst").alias("node"),
                (F.col("v") / F.col("__sa")).alias("authority"),
            )
        else:
            sa = raw_a.agg(F.sum("v")).collect()[0][0]
            auth = raw_a.select(
                F.col("dst").alias("node"), (F.col("v") / F.lit(sa)).alias("authority")
            )
        raw_h = (
            e.join(auth, e["dst"] == auth["node"])
            .groupBy("src")
            .agg(F.sum("authority").alias("v"))
        ).cache()
        caches.append(raw_h)
        sh = raw_h.agg(F.sum("v")).collect()[0][0]
        hub = raw_h.select(
            F.col("src").alias("node"), (F.col("v") / F.lit(sh)).alias("hub")
        )
        if (it + 1) % 4 == 0:
            hub = _truncate(hub)
    out = _truncate(
        nodes.join(hub, "node", "left")
        .join(auth, "node", "left")
        .select(
            "node",
            F.coalesce(F.col("hub"), F.lit(0.0)).alias("hub"),
            F.coalesce(F.col("authority"), F.lit(0.0)).alias("authority"),
        )
    )
    out = out.cache()
    out.count()
    for c in caches:
        c.unpersist()
    return out


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

    # parity gate: 9-significant-digit equality (the driver gate's float
    # precision) over the full output, both directions, plus the exact
    # max-abs-diff as evidence the residual is sum-order ulp noise
    a = _loop(edges, 6, fused=False)
    b = _loop(edges, 6, fused=True)

    def r9(df):
        return df.select(
            "node",
            F.format_string("%.9g", "hub").alias("h"),
            F.format_string("%.9g", "authority").alias("a"),
        )

    diff = r9(a).exceptAll(r9(b)).count() + r9(b).exceptAll(r9(a)).count()
    mx = (
        a.alias("x")
        .join(b.alias("y"), "node")
        .agg(
            F.max(F.abs(F.col("x.hub") - F.col("y.hub"))).alias("dh"),
            F.max(F.abs(F.col("x.authority") - F.col("y.authority"))).alias("da"),
        )
        .collect()[0]
    )
    n = a.count()
    a.unpersist()
    b.unpersist()
    assert diff == 0, f"outputs differ in {diff} rows at 9 significant digits"

    arms = {
        "twocollect": lambda: _loop(edges, 6, fused=False).unpersist(),
        "fused": lambda: _loop(edges, 6, fused=True).unpersist(),
    }
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
    out["ratio_min"] = round(out["fused"]["min"] / out["twocollect"]["min"], 3)
    out["parity_9sg"] = True
    out["max_abs_diff"] = {"hub": mx.dh, "authority": mx.da}
    out["rows"] = n
    print(json.dumps(out))


if __name__ == "__main__":
    main()
