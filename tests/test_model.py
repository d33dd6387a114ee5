"""Unit tests for operators.model — SURVEY §2.5 A1-A9."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from reddit_twitter_big_data_pipeline_spark.operators import model


def test_a1_distinct_dim_drops_nulls(spark):
    df = spark.createDataFrame(
        [("x", "s1"), ("x", "s1"), ("y", None), ("z", "s2")], ["u", "s"]
    )
    out = model.distinct_dim(df, ["u", "s"])
    assert sorted((r.u, r.s) for r in out.collect()) == [("x", "s1"), ("z", "s2")]


def test_a2_dedupe_last_writer(spark):
    df = spark.createDataFrame(
        [("k", 1, "old"), ("k", 2, "new"), ("j", 5, "only")], ["id", "v", "payload"]
    )
    out = model.dedupe_by_key(df, ["id"], order_col="v")
    assert {r.id: r.payload for r in out.collect()} == {"k": "new", "j": "only"}


def test_a3_fk_join_drops_orphans(spark):
    comments = spark.createDataFrame([("c1", "p1"), ("c2", "p404")], ["id", "post_id"])
    posts = spark.createDataFrame([("p1",)], ["pid"])
    out = model.fk_join(comments, posts, "post_id", "pid")
    assert [r.id for r in out.collect()] == ["c1"]
    orph = model.orphans(comments, posts, "post_id", "pid")
    assert [r.id for r in orph.collect()] == ["c2"]


def test_a4_strip_thing_prefix(spark):
    df = spark.createDataFrame([("t1_ab_cd",), ("t3_xyz",), ("plain",)], ["p"])
    out = df.select(model.strip_thing_prefix(F.col("p")).alias("s")).collect()
    # underscore INSIDE the id is preserved (anchored regex, not substring_index)
    assert [r.s for r in out] == ["ab_cd", "xyz", "plain"]


def test_a4_comment_depth_multilevel_and_orphan(spark):
    comments = spark.createDataFrame(
        [
            ("c1", "p1", "t3_p1"),      # depth 0
            ("c2", "p1", "t1_c1"),      # depth 1
            ("c3", "p1", "t1_c2"),      # depth 2
            ("c4", "p1", "t1_missing"),  # orphan: excluded
        ],
        ["id", "post_id", "parent_id"],
    )
    out = model.comment_depth(comments)
    assert {r.id: r.depth for r in out.collect()} == {"c1": 0, "c2": 1, "c3": 2}


def test_a4_doubling_matches_levels_on_random_forest(spark):
    # pointer doubling must reproduce the level-synchronous answer exactly —
    # including orphan-subtree exclusion — on a deterministic random forest
    # with chains deep enough to need several doubling rounds
    import random

    rng = random.Random(7)
    rows = []
    for t in range(20):  # 20 threads
        ids = [f"t{t}c{i}" for i in range(rng.randint(1, 30))]
        for i, cid in enumerate(ids):
            if i == 0:
                rows.append((cid, f"p{t}", f"t3_p{t}"))
            else:
                # parent is a random earlier comment → varied depths;
                # occasionally a missing parent → orphan subtree root
                if rng.random() < 0.05:
                    rows.append((cid, f"p{t}", "t1_missing"))
                else:
                    rows.append((cid, f"p{t}", f"t1_{ids[rng.randrange(i)]}"))
    # one deep chain to force ≥5 doubling rounds (depth 24)
    rows.append(("d0", "pd", "t3_pd"))
    for i in range(1, 25):
        rows.append((f"d{i}", "pd", f"t1_d{i-1}"))
    comments = spark.createDataFrame(rows, ["id", "post_id", "parent_id"])
    levels = {(r.id, r.post_id): r.depth for r in model.comment_depth(comments, max_depth=40).collect()}
    doubling = {(r.id, r.post_id): r.depth for r in model.comment_depth_doubling(comments).collect()}
    assert levels == doubling
    assert doubling[("d24", "pd")] == 24
    # the partition-local BFS reproduces the same forest (its thread-local
    # contract holds here: every parent is in the same post)
    grouped = {
        (r.id, r.post_id): r.depth
        for r in model.comment_depth_grouped(comments, max_depth=40).collect()
    }
    assert levels == grouped
    # and the auto-selector's non-thread-local probe path agrees too
    auto = {
        (r.id, r.post_id): r.depth
        for r in model.comment_depth_auto(
            comments, max_depth=40, thread_local=False
        ).collect()
    }
    assert levels == auto


def test_a4_grouped_matches_join_multiplicity_on_duplicate_ids(spark):
    """The join formulations fan descendants out through duplicated
    ancestor ids (each parent-row occurrence matches). The grouped BFS must
    reproduce that row-for-row — the sf0.1 testdata actually contains
    duplicate (orderkey, linenumber) keys, so the oracle depends on it."""
    from collections import Counter

    comments = spark.createDataFrame(
        [
            ("a", "p1", "t3_p1"),
            ("a", "p1", "t3_p1"),      # duplicate top-level id: weight 2
            ("b", "p1", "t1_a"),       # joins both 'a' rows -> 2 rows
            ("c", "p1", "t1_b"),       # inherits weight 2
            ("d", "p2", "t3_p2"),
            ("e", "p2", "t1_d"),
        ],
        ["id", "post_id", "parent_id"],
    )
    levels = Counter(
        (r.id, r.post_id, r.depth) for r in model.comment_depth(comments).collect()
    )
    grouped = Counter(
        (r.id, r.post_id, r.depth)
        for r in model.comment_depth_grouped(comments).collect()
    )
    assert levels == grouped
    assert grouped[("b", "p1", 1)] == 2
    assert grouped[("c", "p1", 2)] == 2


def test_a4_grouped_orphans_and_max_depth(spark):
    comments = spark.createDataFrame(
        [
            ("c1", "p1", "t3_p1"),
            ("c2", "p1", "t1_c1"),
            ("c3", "p1", "t1_c2"),
            ("c4", "p1", "t1_missing"),   # orphan: excluded
            ("c5", "p1", "t1_c4"),        # orphan subtree: excluded
        ],
        ["id", "post_id", "parent_id"],
    )
    got = {r.id: r.depth for r in model.comment_depth_grouped(comments).collect()}
    assert got == {"c1": 0, "c2": 1, "c3": 2}
    capped = {
        r.id: r.depth
        for r in model.comment_depth_grouped(comments, max_depth=1).collect()
    }
    assert capped == {"c1": 0, "c2": 1}


def test_snapshot_diff_classifies_and_handles_nulls(spark):
    """insert/update/delete classification, unchanged rows excluded, and
    null↔value transitions detected (the xxhash64-skips-nulls trap the JSON
    encoding exists for)."""
    schema = "id long, a string, b string"
    old = spark.createDataFrame(
        [(1, "x", "y"), (2, "keep", "same"), (3, "gone", "z"), (4, None, "v")], schema
    )
    new = spark.createDataFrame(
        [(1, "x2", "y"), (2, "keep", "same"), (5, "born", "w"), (4, "v", None)], schema
    )
    out = {r.id: r for r in model.snapshot_diff(old, new, ["id"]).collect()}
    assert {i: r.change_type for i, r in out.items()} == {
        1: "update", 3: "delete", 5: "insert", 4: "update"
    }
    assert (out[1].a, out[1].b) == ("x2", "y")  # update carries NEW payload
    assert (out[3].a, out[3].b) == ("gone", "z")  # delete carries OLD payload
    assert (out[4].a, out[4].b) == ("v", None)  # null swap detected as change


def test_bloom_prefiltered_join_exact_vs_plain(spark):
    """The bloom pre-filter may pass false positives but the exact join
    removes them — results identical to the plain join even with a
    deliberately tiny (collision-heavy) sketch."""
    large = spark.createDataFrame([(i % 50, i) for i in range(2000)], "k long, v long")
    small = spark.createDataFrame([(3, "a"), (7, "b"), (49, "c")], "k long, name string")
    plain = sorted(map(tuple, large.join(small, "k").collect()))
    for buckets in (4, 1 << 22):  # 4 buckets force heavy false positives
        got = sorted(
            map(tuple, model.bloom_prefiltered_join(large, small, "k", n_buckets=buckets).collect())
        )
        assert got == plain
    with pytest.raises(ValueError, match="unsupported"):
        model.bloom_prefiltered_join(large, small, "k", how="left")


def _depth_chain(spark):
    # a 10-deep chain: depth passes level 8, so comment_depth's every-8th-level
    # cut fires inside the loop (not just the final truncation)
    rows = [("c0", "p1", "t3_p1")] + [
        (f"c{i}", "p1", f"t1_c{i-1}") for i in range(1, 10)
    ] + [("orphan", "p1", "t1_missing")]
    return spark.createDataFrame(rows, ["id", "post_id", "parent_id"])


def _route_comment_depth(spark):
    out = {r.id: r.depth for r in model.comment_depth(_depth_chain(spark)).collect()}
    assert out["c9"] == 9 and "orphan" not in out
    return out


def _route_comment_depth_doubling(spark):
    return {
        r.id: r.depth
        for r in model.comment_depth_doubling(_depth_chain(spark)).collect()
    }


def _route_connected_components(spark):
    from reddit_twitter_big_data_pipeline_spark.operators import dedup

    pairs = spark.createDataFrame([(1, 2), (2, 3), (10, 11)], ["a", "b"])
    out = {r.node: r.component for r in dedup.connected_components(pairs).collect()}
    assert out == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}
    return out


def _route_label_propagation(spark):
    df = spark.createDataFrame([(1, 2), (2, 3), (3, 1), (4, 5)], ["src", "dst"])
    return sorted(model.label_propagation(df, n_iter=4).collect())


def _route_k_core(spark):
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5), (5, 6), (6, 4)], ["src", "dst"]
    )
    out = {(r.node, r.degree) for r in model.k_core(edges, k=2).collect()}
    assert out == {(1, 2), (2, 2), (3, 3), (4, 3), (5, 2), (6, 2)}
    return out


def _route_curate_corpus_v3(spark):
    # the gated curation builder: its lazy barriers cut lineage on first read
    from reddit_twitter_big_data_pipeline_spark.plans import training

    long_en = "the cat and the dog sat on the mat with all of the others " * 4
    df = spark.createDataFrame(
        [
            (1, long_en, "https://a.keep.com/1"),
            (2, long_en + " click here" * 40, "https://b.keep.com/2"),
            (3, long_en + "more", "https://d.keep.com/3"),
        ],
        ["doc_id", "text", "url"],
    )
    out = sorted(training.curate_corpus_v3(df).collect())
    assert [r.doc_id for r in out] == [1, 3]
    return out


@pytest.fixture
def reliable_ckpt(spark, tmp_path):
    """Give the shared session a checkpoint dir for one test, then restore
    "no dir" so every later test stays on the localCheckpoint route."""
    sc = spark.sparkContext
    ckpt = tmp_path / "ckpt"
    sc.setCheckpointDir(str(ckpt))
    try:
        yield ckpt
    finally:
        getattr(sc._jsc.sc(), "checkpointDir_$eq")(sc._jvm.scala.Option.empty())


@pytest.mark.parametrize(
    "run",
    [
        _route_comment_depth,
        _route_comment_depth_doubling,
        _route_connected_components,
        _route_label_propagation,
        _route_k_core,
        _route_curate_corpus_v3,
    ],
    ids=lambda f: f.__name__.removeprefix("_route_"),
)
def test_truncate_lineage_routes_identical(spark, request, run):
    """truncate_lineage follows the session's checkpoint dir: without one
    every cut is a localCheckpoint, with one a reliable checkpoint that
    survives executor loss. Both routes return the same rows, and the
    reliable route actually writes to the dir."""
    import os

    assert spark.sparkContext.getCheckpointDir() is None
    local = run(spark)
    ckpt = request.getfixturevalue("reliable_ckpt")
    assert run(spark) == local
    assert any(files for _, _, files in os.walk(ckpt))


def test_a5_argmax(spark):
    df = spark.createDataFrame(
        [("g1", 1, "a"), ("g1", 9, "b"), ("g2", 5, "c")], ["g", "v", "payload"]
    )
    out = model.argmax(df, ["g"], "v", ["payload"])
    assert {r.g: (r.v, r.payload) for r in out.collect()} == {"g1": (9, "b"), "g2": (5, "c")}


def test_a7_top_n(spark):
    df = spark.createDataFrame([(i,) for i in range(10)], ["v"])
    out = model.top_n(df, "v", 3)
    assert sorted(r.v for r in out.collect()) == [7, 8, 9]


def test_a7_top_n_per_group(spark):
    df = spark.createDataFrame(
        [("g", i) for i in range(5)] + [("h", i) for i in range(2)], ["g", "v"]
    )
    out = model.top_n_per_group(df, ["g"], "v", 2)
    got = sorted((r.g, r.v) for r in out.collect())
    assert got == [("g", 3), ("g", 4), ("h", 0), ("h", 1)]


def test_a9_union_by_name_missing_cols(spark):
    a = spark.createDataFrame([(1, "x")], ["id", "only_a"])
    b = spark.createDataFrame([(2,)], ["id"])
    out = model.union_sources(a, b)
    got = {r.id: r.only_a for r in out.collect()}
    assert got == {1: "x", 2: None}


def test_a8_with_batch_id(spark):
    df = spark.createDataFrame([(i,) for i in range(7)], ["v"])
    out = model.with_batch_id(df, 3, "v")
    got = {r["v"]: r["__batch"] for r in out.collect()}
    assert got == {0: 0, 1: 0, 2: 0, 3: 1, 4: 1, 5: 1, 6: 2}


def test_salted_join_matches_plain_join(spark):
    from reddit_twitter_big_data_pipeline_spark.operators import model
    from pyspark.sql import functions as F

    # heavy skew: 90% of rows share key 1
    skewed = spark.createDataFrame(
        [(1 if i % 10 else i, f"v{i}") for i in range(200)], ["k", "v"]
    )
    dim = spark.createDataFrame([(i, f"d{i}") for i in range(20)], ["k", "d"])
    plain = skewed.join(dim, "k").select("k", "v", "d")
    salted = model.salted_join(skewed, dim, "k").select("k", "v", "d")
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))


def test_salted_agg_matches_plain_agg(spark):
    from reddit_twitter_big_data_pipeline_spark.operators import model
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(1 if i % 5 else 2, float(i)) for i in range(100)], ["k", "val"]
    )
    plain = {
        (r.k): (r.total, r.n)
        for r in df.groupBy("k")
        .agg(F.sum("val").alias("total"), F.count(F.lit(1)).alias("n"))
        .collect()
    }
    salted = {(r.k): (r.total, r.n) for r in model.salted_agg(df, ["k"], "val").collect()}
    assert plain == salted


def test_salted_join_rejects_outer_hows(spark):
    import pytest

    a = spark.createDataFrame([(1, "x")], ["k", "v"])
    b = spark.createDataFrame([(1, "y")], ["k", "d"])
    for how in ("right", "full", "right_outer", "full_outer"):
        with pytest.raises(ValueError, match="n_salts times"):
            model.salted_join(a, b, "k", how=how)


def test_scd2_apply_versions_and_noops(spark):
    dim = spark.createDataFrame(
        [
            (1, "alice", 10.0, "2019-01-01", None, True),
            (2, "bob", 20.0, "2019-01-01", None, True),
            # key 2 already has a closed version — history must pass through
            (2, "bob", 15.0, "2018-01-01", "2019-01-01", False),
        ],
        ["k", "name", "bal", "valid_from", "valid_to", "is_current"],
    )
    changes = spark.createDataFrame(
        [
            (1, "alice", 11.0),   # changed -> close + new version
            (2, "bob", 20.0),     # identical -> no-op
            (3, "carol", 30.0),   # new key -> insert
        ],
        ["k", "name", "bal"],
    )
    out = model.scd2_apply(dim, changes, ["k"], ["name", "bal"], "2020-06-01")
    rows = {(r.k, r.valid_from): r for r in out.collect()}
    assert len(rows) == 5
    closed = rows[(1, "2019-01-01")]
    assert (closed.valid_to, closed.is_current, closed.bal) == ("2020-06-01", False, 10.0)
    opened = rows[(1, "2020-06-01")]
    assert (opened.valid_to, opened.is_current, opened.bal) == (None, True, 11.0)
    untouched = rows[(2, "2019-01-01")]
    assert (untouched.valid_to, untouched.is_current) == (None, True)
    assert rows[(2, "2018-01-01")].is_current is False
    inserted = rows[(3, "2020-06-01")]
    assert (inserted.valid_to, inserted.is_current, inserted.bal) == (None, True, 30.0)

    # idempotency: re-applying the SAME batch at a later ts is a no-op
    again = model.scd2_apply(out, changes, ["k"], ["name", "bal"], "2021-01-01")
    assert again.count() == 5
    assert again.filter(F.col("valid_from") == "2021-01-01").count() == 0


def test_pagerank_matches_numpy_power_iteration(spark):
    import numpy as np

    edges = [
        (0, 1), (0, 2), (1, 2), (2, 0), (3, 2),  # 4 has no out-edges via 2->4
        (2, 4),
    ]
    df = spark.createDataFrame(edges, ["src", "dst"])
    got = {r.node: r.rank for r in model.pagerank(df, n_iter=12).collect()}

    # independent reference: dense power iteration with uniform dangling
    # redistribution, same damping and iteration count
    n, d = 5, 0.85
    out_deg = {u: sum(1 for s, _ in edges if s == u) for u in range(n)}
    r = np.full(n, 1.0 / n)
    for _ in range(12):
        dangling = sum(r[u] for u in range(n) if out_deg[u] == 0)
        nxt = np.full(n, (1.0 - d) / n) + d * dangling / n
        for s, t in edges:
            nxt[t] += d * r[s] / out_deg[s]
        r = nxt
    for u in range(n):
        assert abs(got[u] - r[u]) < 1e-12, (u, got[u], r[u])
    assert abs(sum(got.values()) - 1.0) < 1e-9


def test_personalized_pagerank_matches_numpy_and_localizes(spark):
    import numpy as np

    edges = [
        (0, 1), (0, 2), (1, 2), (2, 0), (3, 2), (2, 4),
        (5, 6), (6, 5),  # a second component, disconnected from seed 0
    ]
    df = spark.createDataFrame(edges, ["src", "dst"])
    seeds = spark.createDataFrame([(0,)], ["node"])
    got = {r.node: r.rank for r in model.personalized_pagerank(df, seeds, n_iter=12).collect()}

    # independent reference: teleport AND dangling mass to the seed only
    n, d = 7, 0.85
    out_deg = {u: sum(1 for s, _ in edges if s == u) for u in range(n)}
    p = np.zeros(n)
    p[0] = 1.0
    r = p.copy()
    for _ in range(12):
        dangling = sum(r[u] for u in range(n) if out_deg[u] == 0)
        nxt = (1.0 - d) * p + d * dangling * p
        for s, t in edges:
            nxt[t] += d * r[s] / out_deg[s]
        r = nxt
    for u in range(n):
        assert abs(got[u] - r[u]) < 1e-12, (u, got[u], r[u])
    # locality: the disconnected component gets exactly zero mass, and
    # total mass stays ~1 (teleport + dangling both return to the seed)
    assert got[5] == 0.0 and got[6] == 0.0
    assert abs(sum(got.values()) - 1.0) < 1e-9
    # empty seed set -> empty result, no crash
    none = spark.createDataFrame([], "node long")
    assert model.personalized_pagerank(df, none, n_iter=3).count() == 0


def test_snapshot_diff_null_keys_survive(spark):
    # a NULL key component must classify AND keep its payload — plain
    # equi-joins would drop it at the re-attach step
    old = spark.createDataFrame(
        [(None, "a"), (1, "x")], "k int, payload string"
    )
    new = spark.createDataFrame(
        [(None, "b"), (1, "x")], "k int, payload string"
    )
    rows = {(r.k, r.change_type): r.payload for r in model.snapshot_diff(old, new, ["k"]).collect()}
    assert rows == {(None, "update"): "b"}


def test_scd2_apply_rejects_untracked_columns(spark):
    import pytest

    dim = spark.createDataFrame(
        [(1, "alice", "ops", "2019-01-01", None, True)],
        "k int, name string, created_by string, valid_from string, "
        "valid_to string, is_current boolean",
    )
    changes = spark.createDataFrame([(1, "alicia")], ["k", "name"])
    with pytest.raises(ValueError, match="created_by"):
        model.scd2_apply(dim, changes, ["k"], ["name"], "2020-01-01")


def test_funnel_requires_stage_order(spark):
    from reddit_twitter_big_data_pipeline_spark.operators import analytics

    rows = [
        # u1 converts fully in order
        (1, "2024-01-01 10:00:00", "view"),
        (1, "2024-01-01 10:05:00", "click"),
        (1, "2024-01-01 10:10:00", "purchase"),
        # u2 purchases BEFORE viewing: purchase must not count
        (2, "2024-01-01 09:00:00", "purchase"),
        (2, "2024-01-01 10:00:00", "view"),
        (2, "2024-01-01 10:30:00", "click"),
        # u3 views only
        (3, "2024-01-01 11:00:00", "view"),
    ]
    ev = spark.createDataFrame(rows, ["user_id", "ts", "event_type"]).withColumn(
        "ts", F.to_timestamp("ts")
    )
    counts = {
        r.stage: r.n_users
        for r in analytics.funnel_counts(ev, ["view", "click", "purchase"]).collect()
    }
    assert counts == {"view": 3, "click": 2, "purchase": 1}

    times = {r.user: r for r in analytics.funnel_stage_times(
        ev, ["view", "click", "purchase"]).collect()}
    assert times[2].t_click is not None and times[2].t_purchase is None
    assert times[3].t_click is None


def test_cohort_retention_offsets(spark):
    from reddit_twitter_big_data_pipeline_spark.operators import analytics

    rows = [
        (1, "2024-01-01 10:00:00"),  # cohort 01-01
        (1, "2024-01-02 10:00:00"),  # offset 1
        (1, "2024-01-02 15:00:00"),  # same day: countDistinct keeps one
        (2, "2024-01-01 09:00:00"),  # cohort 01-01
        (3, "2024-01-03 09:00:00"),  # cohort 01-03
    ]
    ev = spark.createDataFrame(rows, ["user_id", "ts"]).withColumn(
        "ts", F.to_timestamp("ts")
    )
    got = {
        (r.cohort_day, r.day_offset): r.n_users
        for r in analytics.cohort_retention(ev).collect()
    }
    assert got == {
        ("2024-01-01", 0): 2,
        ("2024-01-01", 1): 1,
        ("2024-01-03", 0): 1,
    }


def test_gumbel_topk_sample_weighted_and_deterministic(spark):
    from reddit_twitter_big_data_pipeline_spark.operators import sampling

    # 200 rows: ids < 100 carry 50x the weight of the rest
    df = spark.createDataFrame(
        [(i, 50.0 if i < 100 else 1.0) for i in range(200)], ["doc_id", "w"]
    )
    a = sorted(r.doc_id for r in sampling.gumbel_topk_sample(df, "w", 40).collect())
    b = sorted(r.doc_id for r in sampling.gumbel_topk_sample(df, "w", 40).collect())
    assert a == b and len(a) == 40                      # deterministic, exact k
    assert sum(1 for i in a if i < 100) >= 30           # heavy ids dominate
    # zero/negative weights can never be drawn
    z = spark.createDataFrame([(1, 0.0), (2, -1.0), (3, 5.0)], ["doc_id", "w"])
    assert [r.doc_id for r in sampling.gumbel_topk_sample(z, "w", 3).collect()] == [3]
    # different salt = different (but still deterministic) draw
    c = sorted(
        r.doc_id
        for r in sampling.gumbel_topk_sample(df, "w", 40, salt="other").collect()
    )
    assert c != a


def test_triangle_count_known_graphs(spark):
    # K4 has 4 triangles; adding a pendant edge changes nothing
    k4 = [(i, j) for i in range(4) for j in range(i + 1, 4)]
    df = spark.createDataFrame(k4 + [(3, 9)], ["a", "b"])
    assert model.triangle_count(df).first().n_triangles == 4
    # duplicate edges, reversed edges, and self-loops must not inflate
    noisy = k4 + [(j, i) for i, j in k4] + [(0, 0), (1, 2), (2, 1)]
    df2 = spark.createDataFrame(noisy, ["a", "b"])
    assert model.triangle_count(df2).first().n_triangles == 4
    # a triangle-free graph (star) counts zero
    star = spark.createDataFrame([(0, i) for i in range(1, 6)], ["a", "b"])
    assert model.triangle_count(star).first().n_triangles == 0


def test_triangle_count_paths_agree(spark):
    # the adjacency-intersection default and the forced wedge-join
    # fallback (adj_threshold=0) must count identically on an irregular
    # graph: two K4s sharing a vertex, plus a chord and pendants
    k4a = [(i, j) for i in range(4) for j in range(i + 1, 4)]
    k4b = [(i, j) for i in (0, 10, 11, 12) for j in (0, 10, 11, 12) if i < j]
    edges = k4a + k4b + [(1, 10), (12, 20), (20, 21)]
    df = spark.createDataFrame(edges, ["a", "b"])
    n_adj = model.triangle_count(df).first().n_triangles
    n_wedge = model.triangle_count(df, adj_threshold=0).first().n_triangles
    assert n_adj == n_wedge == 9  # 4 per K4 + {0,1,10} closed by the chord


def test_triangle_count_empty_graph_both_paths(spark):
    empty = spark.createDataFrame([], "a INT, b INT")
    assert model.triangle_count(empty).first().n_triangles == 0
    assert model.triangle_count(empty, adj_threshold=0).first().n_triangles == 0


def test_label_propagation_matches_synchronous_reference(spark):
    # two triangles bridged by one edge — LPA should find two communities
    edges = [(1, 2), (2, 3), (1, 3), (4, 5), (5, 6), (4, 6), (3, 4)]
    df = spark.createDataFrame(edges, ["src", "dst"])
    got = {r.node: r.label for r in model.label_propagation(df, n_iter=5).collect()}

    # independent reference: synchronous update, most-frequent neighbor
    # label, ties -> smallest label
    adj = {}
    for u, v in edges:
        adj.setdefault(u, set()).add(v)
        adj.setdefault(v, set()).add(u)
    labels = {u: u for u in adj}
    for _ in range(5):
        nxt = {}
        for u, nbrs in adj.items():
            freq = {}
            for v in nbrs:
                freq[labels[v]] = freq.get(labels[v], 0) + 1
            best = min(freq.items(), key=lambda kv: (-kv[1], kv[0]))[0]
            nxt[u] = best
        labels = nxt
    assert got == labels
    # the two triangles ended in different communities
    assert len({got[1], got[2], got[3]} | {got[4], got[5], got[6]}) >= 2
    assert got[1] == got[2] == got[3]


def test_rolling_zscore_flags_planted_spike(spark):
    """A flat series with one planted spike: only the spike row is anomalous,
    the first row (empty trailing frame) and second (single-point frame,
    stddev_samp null) stay null-z / unflagged."""
    from reddit_twitter_big_data_pipeline_spark.operators import analytics

    rows = [(i, f"2023-01-01 00:{i:02d}:00", "m", 10.0 + (i % 3) * 0.1) for i in range(30)]
    rows.append((30, "2023-01-01 00:30:30", "m", 500.0))  # the spike
    df = spark.createDataFrame(rows, ["event_id", "ts_s", "event_type", "value"]).withColumn(
        "ts", F.to_timestamp("ts_s")
    )
    out = analytics.rolling_zscore(df, "value", keys=["event_type"]).collect()
    by_id = {r.event_id: r for r in out}
    assert by_id[0].zscore is None and by_id[0].is_anomaly is False
    assert by_id[1].zscore is None  # stddev_samp of a 1-row frame is null
    assert by_id[30].is_anomaly is True and by_id[30].zscore > 3
    assert not any(r.is_anomaly for r in out if r.event_id not in (30,))


def test_rolling_zscore_zero_variance_gives_null_not_inf(spark):
    from reddit_twitter_big_data_pipeline_spark.operators import analytics

    rows = [(i, f"2023-01-01 00:{i:02d}:00", 5.0) for i in range(5)]
    df = spark.createDataFrame(rows, ["event_id", "ts_s", "value"]).withColumn(
        "ts", F.to_timestamp("ts_s")
    )
    out = {r.event_id: r for r in analytics.rolling_zscore(df, "value").collect()}
    # constant series: stddev 0 → z null everywhere, nothing flagged
    assert all(out[i].zscore is None and out[i].is_anomaly is False for i in range(5))


def test_column_profile_counts_nulls_distinct_minmax(spark):
    from reddit_twitter_big_data_pipeline_spark import observability

    df = spark.createDataFrame(
        [(1, "a"), (2, None), (2, "b"), (None, "a")], ["k", "s"]
    )
    prof = {r.col_name: r for r in observability.column_profile(df).collect()}
    k = prof["k"]
    assert (k.n_rows, k.n_null, k.n_distinct, k.min_value, k.max_value) == (4, 1, 2, "1", "2")
    s = prof["s"]
    assert (s.n_null, s.n_distinct, s.min_value, s.max_value) == (1, 2, "a", "b")


def test_column_profile_approx_mode_close_to_exact(spark, sf_dir):
    from reddit_twitter_big_data_pipeline_spark import observability, schemas

    ev = schemas.load_table(spark, sf_dir, "events")
    exact = {r.col_name: r.n_distinct for r in
             observability.column_profile(ev, ["user_id"]).collect()}
    approx = {r.col_name: r.n_distinct for r in
              observability.column_profile(ev, ["user_id"], exact_distinct=False).collect()}
    assert abs(approx["user_id"] - exact["user_id"]) / exact["user_id"] < 0.1


def test_k_core_peels_pendant_chain(spark):
    # triangle {1,2,3} with a pendant chain 3-4-5: the 2-core is exactly the
    # triangle (5 peels first, which drops 4 below degree 2 — the cascade)
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5)], ["src", "dst"]
    )
    got = {(r.node, r.degree) for r in model.k_core(edges, k=2).collect()}
    assert got == {(1, 2), (2, 2), (3, 2)}
    # k=3: the triangle's in-core degrees are 2 → everything peels
    assert model.k_core(edges, k=3).count() == 0


def test_k_core_matches_python_peel(spark):
    import random

    rng = random.Random(11)
    edges = list({(rng.randrange(30), rng.randrange(30)) for _ in range(120)})
    edges = [(a, b) for a, b in edges if a != b]

    # reference peel
    adj = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    k = 3
    changed = True
    while changed:
        changed = False
        for n in [n for n, nb in adj.items() if len(nb) < k]:
            for m in adj.pop(n):
                adj[m].discard(n)
            changed = True
    expected = {(n, len(nb)) for n, nb in adj.items()}

    df = spark.createDataFrame(edges, ["src", "dst"])
    got = {(r.node, r.degree) for r in model.k_core(df, k=k).collect()}
    assert got == expected


def test_apply_cdc_insert_update_delete_and_ties(spark):
    base = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 10), (3, "c", 10)], ["k", "s", "t"]
    )
    changes = spark.createDataFrame(
        [
            (2, "b2", 20, "U"),   # update
            (3, "c", 20, "D"),    # delete
            (4, "d", 20, "I"),    # insert
            (5, "e", 20, "U"),    # two changes for 5: later U wins...
            (5, "e2", 30, "U"),
            (6, "f", 20, "U"),    # ...and a same-instant D beats the U
            (6, "f2", 20, "D"),
        ],
        ["k", "s", "t", "op"],
    )
    got = {(r.k, r.s) for r in model.apply_cdc(base, changes, ["k"], "t").collect()}
    assert got == {(1, "a"), (2, "b2"), (4, "d"), (5, "e2")}


def test_event_sequences_order_and_truncation(spark):
    from reddit_twitter_big_data_pipeline_spark.operators import analytics

    rows = [
        (3, "2023-01-01 00:03:00", 1, "c"),
        (1, "2023-01-01 00:01:00", 1, "a"),
        (2, "2023-01-01 00:02:00", 1, "b"),
        (4, "2023-01-01 00:02:00", 1, "b2"),  # ts tie → id order
        (9, "2023-01-01 00:09:00", 2, "z"),
    ]
    df = spark.createDataFrame(rows, ["event_id", "ts_s", "user_id", "event_type"]).withColumn(
        "ts", F.to_timestamp("ts_s")
    )
    out = {r.user: (r.n_events, list(r.events))
           for r in analytics.event_sequences(df).collect()}
    assert out[1] == (4, ["a", "b", "b2", "c"])
    assert out[2] == (1, ["z"])
    trunc = {r.user: list(r.events)
             for r in analytics.event_sequences(df, max_len=2).collect()}
    assert trunc[1] == ["a", "b"]  # earliest two kept


def test_event_transitions_counts(spark):
    from reddit_twitter_big_data_pipeline_spark.operators import analytics

    rows = [
        (1, "2023-01-01 00:01:00", 1, "view"),
        (2, "2023-01-01 00:02:00", 1, "click"),
        (3, "2023-01-01 00:03:00", 1, "view"),
        (4, "2023-01-01 00:04:00", 2, "view"),
        (5, "2023-01-01 00:05:00", 2, "click"),
    ]
    df = spark.createDataFrame(rows, ["event_id", "ts_s", "user_id", "event_type"]).withColumn(
        "ts", F.to_timestamp("ts_s")
    )
    got = {(r.from_event, r.to_event): r.n
           for r in analytics.event_transitions(df).collect()}
    # user 1: view→click, click→view; user 2: view→click (no cross-user pair)
    assert got == {("view", "click"): 2, ("click", "view"): 1}


def test_mad_outliers_robust_to_the_spike_itself(spark):
    """The spike that inflates a mean/std gate must still be flagged by the
    median/MAD gate, and the flat remainder must not be."""
    from reddit_twitter_big_data_pipeline_spark.operators import analytics

    rows = [(i, "m", 10.0 + (i % 5) * 0.5) for i in range(20)]
    rows.append((100, "m", 1000.0))
    df = spark.createDataFrame(rows, ["event_id", "event_type", "value"])
    out = {r.event_id: r for r in
           analytics.mad_outliers(df, "value", keys=["event_type"]).collect()}
    assert out[100].is_outlier is True
    assert not any(r.is_outlier for i, r in out.items() if i != 100)
    # median/MAD computed over the contaminated data stay near the bulk
    assert 10.0 <= out[0].median <= 12.0


def test_mad_outliers_null_key_and_null_value_kept_not_dropped(spark):
    """A null group key is its own group (null-safe join keeps the rows);
    a null value is 'not flagged' (False), never a null boolean."""
    from reddit_twitter_big_data_pipeline_spark.operators import analytics

    rows = [(1, None, 5.0), (2, None, 5.0), (3, None, 500.0), (4, "m", None)]
    df = spark.createDataFrame(rows, "event_id long, event_type string, value double")
    out = {r.event_id: r for r in
           analytics.mad_outliers(df, "value", keys=["event_type"]).collect()}
    assert len(out) == 4                      # nothing silently dropped
    assert out[3].is_outlier is True          # spike inside the null-key group
    assert out[1].is_outlier is False
    assert out[4].is_outlier is False         # null value → False, not null


def test_k_core_local_and_global_paths_agree(spark):
    """Strategy parity (the comment_depth_auto discipline): the single-task
    local peel and the iterative global peel must reach the identical
    fixpoint — same surviving nodes, same inside-core degrees — across k."""
    import random

    rng = random.Random(7)
    edges = list({(rng.randrange(60), rng.randrange(60)) for _ in range(400)})
    edges = [(a, b) for a, b in edges if a != b]
    df = spark.createDataFrame(edges, ["src", "dst"])
    for k in (2, 3, 5):
        local = {(r.node, r.degree) for r in model.k_core(df, k=k).collect()}
        glob = {
            (r.node, r.degree)
            for r in model.k_core(df, k=k, local_threshold=0).collect()
        }
        assert local == glob, f"k={k}: strategies diverged"
        assert all(d >= k for _n, d in local) or not local


# ------------------------------------------- clustering coefficient / AA


def _brute_lcc(edges):
    adj: dict = {}
    for u, v in edges:
        if u == v:
            continue
        adj.setdefault(u, set()).add(v)
        adj.setdefault(v, set()).add(u)
    out = {}
    for n, nb in adj.items():
        d = len(nb)
        if d < 2:
            continue
        t = sum(1 for x in nb for y in nb if x < y and y in adj.get(x, ()))
        out[n] = (d, t, 2.0 * t / (d * (d - 1)))
    return out


def test_clustering_coefficient_known_graphs(spark):
    # K4: every node sits in 3 triangles of its 3 possible -> lcc 1.0
    k4 = [(i, j) for i in range(4) for j in range(i + 1, 4)]
    rows = model.clustering_coefficient(spark.createDataFrame(k4, ["a", "b"])).collect()
    assert {r.node: (r.degree, r.triangles, r.lcc) for r in rows} == {
        n: (3, 3, 1.0) for n in range(4)
    }
    # star: center has degree 5, zero triangles, lcc 0; leaves (deg 1) excluded
    star = spark.createDataFrame([(0, i) for i in range(1, 6)], ["a", "b"])
    rows = model.clustering_coefficient(star).collect()
    assert [(r.node, r.degree, r.triangles, r.lcc) for r in rows] == [(0, 5, 0, 0.0)]


def test_clustering_coefficient_matches_bruteforce_random(spark):
    import random

    rng = random.Random(7)
    edges = sorted(
        {
            (min(u, v), max(u, v))
            for u, v in ((rng.randrange(20), rng.randrange(20)) for _ in range(70))
            if u != v
        }
    )
    # noisy input: duplicates + reversed edges + a self-loop must not change it
    noisy = edges + [(v, u) for u, v in edges[:10]] + [(5, 5)]
    df = spark.createDataFrame(noisy, ["a", "b"])
    got = {
        r.node: (r.degree, r.triangles, r.lcc)
        for r in model.clustering_coefficient(df).collect()
    }
    assert got == _brute_lcc(edges)
    # both forced strategies must produce identical rows on the same
    # irregular graph — they share only the degree-oriented DAG
    # (adj_threshold=0 forces the wedge join; wedge_factor=0 forces the
    # adjacency intersection; the default density gate picks one of them)
    wedge = {
        r.node: (r.degree, r.triangles, r.lcc)
        for r in model.clustering_coefficient(df, adj_threshold=0).collect()
    }
    assert wedge == got
    adj = {
        r.node: (r.degree, r.triangles, r.lcc)
        for r in model.clustering_coefficient(df, wedge_factor=0).collect()
    }
    assert adj == got


def _brute_adamic_adar(edges, max_degree=None):
    import math

    adj: dict = {}
    for u, v in edges:
        if u == v:
            continue
        adj.setdefault(u, set()).add(v)
        adj.setdefault(v, set()).add(u)
    out = {}
    nodes = sorted(adj)
    for i, u in enumerate(nodes):
        for v in nodes[i + 1 :]:
            if v in adj[u]:
                continue
            common = [
                z
                for z in adj[u] & adj[v]
                if max_degree is None or len(adj[z]) <= max_degree
            ]
            if common:
                s = sum(1.0 / math.log(len(adj[z])) for z in common)
                out[(u, v)] = (len(common), s)
    return out


def test_adamic_adar_matches_bruteforce_random(spark):
    import random

    import pytest as _pytest

    rng = random.Random(11)
    edges = sorted(
        {
            (min(u, v), max(u, v))
            for u, v in ((rng.randrange(15), rng.randrange(15)) for _ in range(40))
            if u != v
        }
    )
    df = spark.createDataFrame(edges, ["a", "b"])
    # k large enough to return EVERY scored pair: no top-k boundary effects
    got = {
        (r.u, r.v): (r.common_neighbors, r.aa_score)
        for r in model.adamic_adar(df, k=10_000).collect()
    }
    want = _brute_adamic_adar(edges)
    assert set(got) == set(want)
    for p, (cn, s) in want.items():
        assert got[p][0] == cn
        assert got[p][1] == _pytest.approx(s, abs=1e-6)


def test_adamic_adar_ordering_and_hub_cap(spark):
    # hub 0 connects to everyone; spokes 1..5 are non-adjacent pairs whose
    # only common neighbor is the hub. An extra triangle-ish edge gives
    # (1,2) a second, rarer common neighbor 6 -> strictly higher score.
    edges = [(0, i) for i in range(1, 6)] + [(1, 6), (2, 6)]
    df = spark.createDataFrame(edges, ["a", "b"])
    rows = model.adamic_adar(df, k=3).collect()
    # top-3 must match the brute-force ranking under the same
    # (rounded score desc, u, v) total order
    brute = _brute_adamic_adar(edges)
    ranked = sorted(brute.items(), key=lambda kv: (-round(kv[1][1], 6), *kv[0]))
    assert [(r.u, r.v, r.common_neighbors) for r in rows] == [
        (u, v, cn) for (u, v), (cn, _s) in ranked[:3]
    ]
    # scores are ordered desc
    scores = [r.aa_score for r in rows]
    assert scores == sorted(scores, reverse=True)
    # capping out the degree-5 hub leaves only the (1,2) pair via node 6
    capped = model.adamic_adar(df, k=10, max_degree=4).collect()
    got = {(r.u, r.v): r.common_neighbors for r in capped}
    brute = {p: cn for p, (cn, _s) in _brute_adamic_adar(edges, max_degree=4).items()}
    assert got == brute


def test_hits_matches_numpy_power_iteration(spark):
    import numpy as np

    edges = [(0, 10), (0, 11), (1, 10), (2, 11), (2, 12), (3, 12), (0, 10)]
    df = spark.createDataFrame(edges, ["src", "dst"])
    got = {r.node: (r.hub, r.authority) for r in model.hits(df, n_iter=8).collect()}

    nodes = sorted({n for e in edges for n in e})
    idx = {n: i for i, n in enumerate(nodes)}
    A = np.zeros((len(nodes), len(nodes)))
    for s, d in set(edges):  # distinct edges, as the operator dedupes
        A[idx[s], idx[d]] = 1.0
    h = np.ones(len(nodes))
    for _ in range(8):
        a = A.T @ h
        a = a / a.sum()
        h = A @ a
        h = h / h.sum()
    assert set(got) == set(nodes)
    for n in nodes:
        assert got[n][0] == pytest.approx(h[idx[n]], abs=1e-9)
        assert got[n][1] == pytest.approx(a[idx[n]], abs=1e-9)
    # bipartite roles: sources are pure hubs, sinks pure authorities
    assert all(got[n][1] == 0.0 for n in (0, 1, 2, 3))
    assert all(got[n][0] == 0.0 for n in (10, 11, 12))


def test_hits_empty_graph(spark):
    df = spark.createDataFrame([], "src int, dst int")
    assert model.hits(df, n_iter=3).count() == 0
