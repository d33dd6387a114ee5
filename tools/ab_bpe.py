"""Interleaved A/B for the r11 bpe_train single-pass batch merge at sf0.1
(bench noise on this box swings sequential blocks 1.5-4x — only interleaved
min-of-N in ONE session adjudicates a perf claim; see BASELINE.md).

Arm `onepass`: current bpe.bpe_train — each round applies its whole
              disjoint merge batch in ONE F.aggregate fold
              (`_apply_merges`), rolling cache release.
Arm `chained`: the r10 shape — one nested `_apply_merge` fold per pair
              (m=8 nested lambda folds per round), caches held to the end.

Merge lists are identical between arms (the candidate-selection logic is
shared); both arms run the same downstream bpe_tokenize count.

Usage: python tools/ab_bpe.py [sf_dir] [reps]
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

from reddit_twitter_big_data_pipeline_spark import session  # noqa: E402
from reddit_twitter_big_data_pipeline_spark.checkpointing import (  # noqa: E402
    truncate_lineage as _truncate,
)
from reddit_twitter_big_data_pipeline_spark.operators import bpe  # noqa: E402


def chained_train(
    df: DataFrame, n_merges: int = 30, min_count: int = 2, batch_merges: int = 8
) -> list[tuple[str, str]]:
    """Verbatim r10 bpe_train loop body: per-pair nested folds, caches
    held in a list until the end, round-4 truncation."""
    vocab = (
        bpe.word_counts(df, "text")
        .select(bpe._symbols(F.col("word")).alias("s"), "cnt")
        .cache()
    )
    caches = [vocab]
    merges: list[tuple[str, str]] = []
    r = 0
    while len(merges) < n_merges:
        m = min(batch_merges, n_merges - len(merges))
        pairs = bpe.pair_counts(vocab)
        cand = (
            pairs.filter(F.col("total") >= min_count)
            .orderBy(F.desc("total"), "x", "y")
            .limit(max(4 * m, 16))
            .collect()
        )
        if not cand:
            break
        taken: list[tuple[str, str]] = []
        used: set[str] = set()
        for row in cand:
            x, y = row["x"], row["y"]
            if x in used or y in used or (x + y) in used:
                continue
            taken.append((x, y))
            used.update((x, y, x + y))
            if len(taken) >= m:
                break
        merges.extend(taken)
        s = F.col("s")
        for x, y in taken:
            s = bpe._apply_merge(s, x, y)
        nxt = vocab.select(s.alias("s"), "cnt").cache()
        caches.append(nxt)
        r += 1
        if r % 4 == 0:
            nxt = _truncate(nxt)
        vocab = nxt
    for c in caches:
        c.unpersist()
    return merges


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    reps = int(sys.argv[2]) if len(sys.argv) > 2 else 3
    spark = session.get_spark(cpus=int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))

    def run(train):
        merges = train(docs)
        return merges, bpe.bpe_tokenize(docs, merges).select("doc_id", "n_bpe").count()

    arms = {
        "onepass": lambda: run(lambda d: bpe.bpe_train(d, n_merges=30)),
        "chained": lambda: run(chained_train),
    }
    results: dict[str, tuple] = {}
    for name, fn in arms.items():  # warm both arms (JIT, page cache)
        t0 = time.time()
        results[name] = fn()
        print(f"warm {name}: {time.time() - t0:.2f}s", file=sys.stderr, flush=True)
    assert results["onepass"] == results["chained"], results
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
    out["ratio_min"] = round(out["onepass"]["min"] / out["chained"]["min"], 3)
    out["rows"] = results["onepass"][1]
    out["merges_identical"] = results["onepass"][0] == results["chained"][0]
    print(json.dumps(out))


if __name__ == "__main__":
    main()
