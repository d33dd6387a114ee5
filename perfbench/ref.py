"""Independent references for the output gates.

Each reference folds the generator's ground truth with plain Python, NumPy
or DuckDB; none reads an engine output. `diff_*` helpers return a list of
human-readable mismatches, empty when the output is correct.
"""

from __future__ import annotations

from collections import deque

import numpy as np

CONTENT_SENTINELS = ("", "[deleted]", "[removed]")
USERNAME_SENTINELS = ("", "None")
MAX_LEN = 1000


def diff_sets(name: str, got: set, want: set) -> list[str]:
    if got == want:
        return []
    missing, extra = want - got, got - want
    return [
        f"{name}: {len(missing)} missing (e.g. {sorted(missing, key=str)[:3]}), "
        f"{len(extra)} unexpected (e.g. {sorted(extra, key=str)[:3]})"
    ]


def diff_keyed(name: str, got: dict, want: dict) -> list[str]:
    out = []
    for k in sorted(set(got) | set(want)):
        out += diff_sets(f"{name}[{k}]", set(got.get(k, ())), set(want.get(k, ())))
    return out


# --------------------------------------------------------------- daily_etl


def _kept(row: dict, blocklist: list[str], bots: bool) -> bool:
    c, u = row.get("content"), row.get("username")
    if c is None or c in CONTENT_SENTINELS or u is None or u in USERNAME_SENTINELS:
        return False
    if bots and u == "AutoModerator":
        return False
    if len(c) > MAX_LEN:
        return False
    low = c.lower()
    return not any(t in low for t in blocklist)


def twitter_graph(tweets: list[dict], blocklist: list[str]) -> tuple[dict, dict]:
    """({label: node ids}, {rel_type: (src, dst) pairs}) of the cleansed
    tweets, as the property graph would hold them after MERGE."""
    nodes: dict[str, set] = {"Tweet": set(), "User_Twitter": set()}
    edges: dict[str, set] = {"POSTED_BY": set(), "MENTIONS": set(), "IN_REPLY_TO": set()}
    for t in tweets:
        if not _kept(t, blocklist, bots=False):
            continue
        tid, user = str(t["id"]), t["username"]
        nodes["Tweet"].add(tid)
        nodes["User_Twitter"].add(user)
        edges["POSTED_BY"].add((tid, user))
        for m in (t.get("mentionedUsers") or "").split(","):
            if m:
                nodes["User_Twitter"].add(m)
                edges["MENTIONS"].add((tid, m))
        if t.get("inReplyToUser") is not None:
            nodes["User_Twitter"].add(t["inReplyToUser"])
            edges["IN_REPLY_TO"].add((tid, t["inReplyToUser"]))
    return nodes, edges


def reddit_graph(posts: list[dict], comments: list[dict], blocklist: list[str]) -> tuple[dict, dict]:
    nodes: dict[str, set] = {
        "Post_Reddit": set(), "Comment_Reddit": set(), "User_Reddit": set(),
        "Subreddit_Reddit": set(),
    }
    edges: dict[str, set] = {
        "POSTED_IN": set(), "POSTED_BY": set(), "COMMENTED_ON": set(), "COMMENTED_BY": set(),
    }
    kept_posts = set()
    for p in posts:
        if not _kept(p, blocklist, bots=True):
            continue
        kept_posts.add(p["id"])
        nodes["Post_Reddit"].add(p["id"])
        nodes["User_Reddit"].add(p["username"])
        edges["POSTED_BY"].add((p["id"], p["username"]))
        if p.get("subreddit") is not None:
            nodes["Subreddit_Reddit"].add(p["subreddit"])
            edges["POSTED_IN"].add((p["id"], p["subreddit"]))
    for c in comments:
        # a comment whose post did not survive contributes nothing
        if not _kept(c, blocklist, bots=True) or c.get("post_id") not in kept_posts:
            continue
        nodes["Comment_Reddit"].add(c["id"])
        nodes["User_Reddit"].add(c["username"])
        edges["COMMENTED_ON"].add((c["id"], c["post_id"]))
        edges["COMMENTED_BY"].add((c["id"], c["username"]))
    return nodes, edges


# --------------------------------------------------------------- graph_rank

# Float tolerance for HITS and PPR: Spark sums in shuffle order, NumPy in
# array order, so scores may differ in the last bits of a double.
SCORE_RTOL = 1e-9
SCORE_ATOL = 1e-12


def hits(edges: list[tuple[int, int]], n_iter: int = 8) -> dict[int, tuple[float, float]]:
    """Synchronous HITS with an L1 norm per half-step, hubs starting at 1."""
    nodes = sorted({n for e in edges for n in e})
    idx = {n: i for i, n in enumerate(nodes)}
    s = np.array([idx[a] for a, _ in edges])
    d = np.array([idx[b] for _, b in edges])
    hub = np.ones(len(nodes))
    auth = np.zeros(len(nodes))
    for _ in range(n_iter):
        auth = np.bincount(d, weights=hub[s], minlength=len(nodes))
        auth = auth / auth.sum()
        hub = np.bincount(s, weights=auth[d], minlength=len(nodes))
        hub = hub / hub.sum()
    return {n: (float(hub[i]), float(auth[i])) for n, i in idx.items()}


def personalized_pagerank(
    edges: list[tuple[int, int]], seeds: list[int], damping: float = 0.85, n_iter: int = 8
) -> dict[int, float]:
    nodes = sorted({n for e in edges for n in e})
    idx = {n: i for i, n in enumerate(nodes)}
    s = np.array([idx[a] for a, _ in edges])
    d = np.array([idx[b] for _, b in edges])
    deg = np.bincount(s, minlength=len(nodes)).astype(float)
    seeds_in = [idx[x] for x in set(seeds) if x in idx]
    p = np.zeros(len(nodes))
    p[seeds_in] = 1.0 / len(seeds_in)
    rank = p.copy()
    for _ in range(n_iter):
        dangling = rank[deg == 0].sum()
        sums = np.bincount(d, weights=rank[s] / deg[s], minlength=len(nodes))
        rank = (1.0 - damping) * p + damping * (sums + dangling * p)
    return {n: float(rank[i]) for n, i in idx.items()}


def components(edges: list[tuple[int, int]]) -> dict[int, int]:
    """Union-find; each node labelled by the smallest id in its component."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


def k_core(edges: list[tuple[int, int]], k: int) -> dict[int, int]:
    """Peel every node of degree < k until none is left; returns
    {node: degree inside the core}."""
    neigh: dict[int, set] = {}
    for a, b in edges:
        if a != b:
            neigh.setdefault(a, set()).add(b)
            neigh.setdefault(b, set()).add(a)
    deg = {n: len(v) for n, v in neigh.items()}
    q = deque(n for n, dg in deg.items() if dg < k)
    gone = set()
    while q:
        n = q.popleft()
        if n in gone:
            continue
        gone.add(n)
        for m in neigh[n]:
            if m not in gone:
                deg[m] -= 1
                if deg[m] < k:
                    q.append(m)
    return {n: deg[n] for n in neigh if n not in gone}


def diff_scores(name: str, got: dict, want: dict) -> list[str]:
    if set(got) != set(want):
        return diff_sets(f"{name} nodes", set(got), set(want))
    keys = sorted(want)
    g = np.array([got[k] for k in keys], dtype=float)
    w = np.array([want[k] for k in keys], dtype=float)
    bad = ~np.isclose(g, w, rtol=SCORE_RTOL, atol=SCORE_ATOL)
    if bad.any():
        i = int(np.argmax(bad))
        return [f"{name}: {int(bad.sum())} scores off, e.g. node {keys[i]}: {g[i]!r} != {w[i]!r}"]
    return []


def diff_exact(name: str, got: dict, want: dict) -> list[str]:
    if got == want:
        return []
    if set(got) != set(want):
        return diff_sets(f"{name} nodes", set(got), set(want))
    bad = [k for k in want if got[k] != want[k]]
    return [f"{name}: {len(bad)} values differ, e.g. {bad[0]}: {got[bad[0]]} != {want[bad[0]]}"]


# ------------------------------------------------------------- late_refresh


def last_writer_wins(base: list[dict], updates: list[dict]) -> dict[str, dict]:
    """{id: row} keeping the row with the largest crawl_ts per id."""
    table = {r["id"]: r for r in base}
    for u in updates:
        old = table.get(u["id"])
        if old is None or u["crawl_ts"] > old["crawl_ts"]:
            table[u["id"]] = u
    return table


# --------------------------------------------------------- curate_increment


def curation_oracle(documents: list[dict]) -> set[tuple]:
    """Admitted (doc_id, lang, domain, n_tokens) rows from the DuckDB oracle
    form of `train_curation_increment_v2` in `__spark_entry__.py`, run on
    the generated `documents` corpus."""
    import duckdb
    import pandas as pd

    import __spark_entry__ as entry

    sql = entry.oracle_sql()["train_curation_increment_v2"]
    con = duckdb.connect()
    try:
        con.register("documents", pd.DataFrame(documents, columns=["doc_id", "text"]))
        rows = con.execute(sql).fetchall()
    finally:
        con.close()
    return {(int(a), b, c, int(d)) for a, b, c, d in rows}
