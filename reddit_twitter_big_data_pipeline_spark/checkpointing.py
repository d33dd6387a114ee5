"""The package's one lineage-cut policy.

Iterative operators (connected_components, comment_depth, the graph
ranks, bpe_train, range_join's left path) cut lineage every few rounds:
Catalyst re-analyzes the full logical plan on every action otherwise, and
analysis cost compounds past ~10 nested joins. The curation plans cut it
between a scored projection and the filters that read it, so pushdown
cannot substitute the scoring expressions into every condition.

Whether a cut survives executor loss is a property of the deployment,
not of the call, so the route follows the session's own Spark setting:

- no checkpoint dir (the default): `df.localCheckpoint()` — zero extra
  I/O, but the blocks live unreplicated on executors with no lineage
  behind them, so losing an executor that holds one (spot reclaim,
  dynamic-allocation scale-down, OOM kill) fails the job;
- `spark.checkpoint.dir` set at session build (or `setCheckpointDir`
  called): a reliable `df.checkpoint()` under that dir (HDFS/S3) that
  survives any executor, at one write and one read per cut.

Every cut in the package goes through `truncate_lineage`; nothing else
calls `localCheckpoint` or `checkpoint`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def truncate_lineage(df: DataFrame, eager: bool = True) -> DataFrame:
    """Cut `df`'s lineage: a reliable checkpoint when the session has a
    checkpoint dir, else `localCheckpoint`. `eager=False` defers the
    materialization to the first action that reads the frame."""
    if df.sparkSession.sparkContext.getCheckpointDir() is None:
        return df.localCheckpoint(eager=eager)
    return df.checkpoint(eager=eager)
