"""Seeded input generators for the four benchmark workloads.

Every generator is pure Python driven by one `random.Random(seed)`: the same
seed writes byte-identical files, and the engine only ever sees these files.
Each generator also returns the ground truth the output gates fold over
(`ref.py`), so no reference is derived from the engine's own output.
"""

from __future__ import annotations

import json
import os
import random
from dataclasses import dataclass, field

# Size knobs per workload; `tiny` is the smoke-test scale used by the tests.
#
# The landing shape follows the reference's deployment (BASELINE.md,
# "Reference configuration baseline"): the scrapers run every 15 minutes per
# topic, so a day of tweets is 96 files per topic, one per window; Reddit
# posts and comments are written once a day per topic by the aggregate
# Lambda, one file each; a Reddit search returns at most 100 posts per topic
# per window. Reddit posts use 5% of that cap, tweets (no cap) 12 per window:
# a warm daily job is mostly per-Spark-job overhead (11-18 s at 246 rows
# and at 6,150 rows on a 4-core machine), and small volumes keep runs short.
WINDOWS_PER_DAY = 96
SIZES = {
    "daily_etl": {
        "full": {"windows": WINDOWS_PER_DAY, "tweets_per_window": 12,
                 "posts_per_window": 5, "comments_per_post": 3},
        "tiny": {"windows": 4, "tweets_per_window": 15,
                 "posts_per_window": 5, "comments_per_post": 2},
    },
    "graph_rank": {
        "full": {"users": 1500, "edges": 6000, "islands": 20, "seeds": 8},
        "tiny": {"users": 60, "edges": 200, "islands": 3, "seeds": 3},
    },
    # a day of Reddit posts per topic as in daily_etl; the backlog is the
    # last `nights` nightly re-crawls
    "late_refresh": {
        "full": {"days": 6, "windows": WINDOWS_PER_DAY, "posts_per_window": 5, "nights": 3},
        "tiny": {"days": 4, "windows": 4, "posts_per_window": 5, "nights": 3},
    },
    "curate_increment": {
        "full": {"corpus": 300},
        "tiny": {"corpus": 40},
    },
}

TOPICS = ("climate", "elections")
DAYS = ("14-10-2026", "15-10-2026", "16-10-2026")
BLOCKLIST = ["darnit", "spamword", "scamlink"]

_VOCAB = (
    "the a of and to in is on for with data spark stream batch window join "
    "graph user post reply score vote policy storm heat flood carbon vote poll "
    "debate ballot senate rally news report today people city power market "
    "energy solar wind rain fire coast green local global trend topic view"
).split()


def _zipf_cum(n: int, s: float = 1.1) -> list[float]:
    cum, acc = [], 0.0
    for r in range(1, n + 1):
        acc += 1.0 / r**s
        cum.append(acc)
    return cum


def _words(rng: random.Random, lo: int, hi: int) -> str:
    return " ".join(rng.choice(_VOCAB) for _ in range(rng.randint(lo, hi)))


def _dump(path: str, rows: list[dict]) -> int:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    data = json.dumps(rows, separators=(",", ":")).encode()
    with open(path, "wb") as f:
        f.write(data)
    return len(data)


# --------------------------------------------------------------- daily_etl


@dataclass
class DailyInputs:
    root: str
    dataload: str
    tweets: list[dict] = field(default_factory=list)  # yesterday's rows only
    posts: list[dict] = field(default_factory=list)
    comments: list[dict] = field(default_factory=list)
    corrupt_rows: int = 0
    rows_in: int = 0


def _content(rng: random.Random) -> str | None:
    """Mostly clean text, with every cleanse branch planted: sentinels,
    nulls, over-length text and blocklisted terms."""
    r = rng.random()
    if r < 0.02:
        return rng.choice(["[deleted]", "[removed]", ""])
    if r < 0.03:
        return None
    if r < 0.04:
        return _words(rng, 220, 260)  # > 1000 characters
    text = _words(rng, 4, 30)
    if r < 0.06:
        text += " " + rng.choice(BLOCKLIST).upper()
    return text


def _username(rng: random.Random, users: list[str], cum: list[float]) -> str:
    r = rng.random()
    if r < 0.02:
        return rng.choice(["None", ""])
    return rng.choices(users, cum_weights=cum)[0]


def _window_stamp(date: str, w: int) -> str:
    return f"{date} {w // 4:02d}:{15 * (w % 4):02d}:00"


def gen_daily(root: str, seed: int, scale: str = "full") -> DailyInputs:
    """The landing tree of 2 topics x 3 days, shaped as the scrapers write
    it: tweets/topic=<t>/dataload=<d>/ holds one JSON-array file per
    15-minute window, posts/ and comments/ one file per topic and day. In
    yesterday's partitions each table also holds one truncated file. Only
    yesterday is returned as ground truth."""
    sz = SIZES["daily_etl"][scale]
    rng = random.Random(seed)
    n_posts = sz["windows"] * sz["posts_per_window"]
    tw_users = [f"tw{i}" for i in range(sz["windows"] * sz["tweets_per_window"] // 3)]
    rd_users = [f"rd{i}" for i in range(n_posts)]
    tw_cum, rd_cum = _zipf_cum(len(tw_users)), _zipf_cum(len(rd_users))
    out = DailyInputs(root=root, dataload=DAYS[-1])
    for ti, topic in enumerate(TOPICS):
        subs = [f"r_{topic}_{k}" for k in range(6)]
        for di, day in enumerate(DAYS):
            last = di == len(DAYS) - 1
            base = (ti * 10 + di) * 1_000_000
            date = "2026-10-%02d" % (14 + di)
            part = f"topic={topic}/dataload={day}"
            tweets = []
            for w in range(sz["windows"]):
                stamp = _window_stamp(date, w)
                window = []
                for _ in range(sz["tweets_per_window"]):
                    ments = sorted(
                        {rng.choices(tw_users, cum_weights=tw_cum)[0]
                         for _ in range(rng.randint(0, 3))}
                    )
                    m = rng.random()
                    window.append({
                        "id": base + len(tweets) + len(window),
                        "date": stamp[:-2] + f"{rng.randint(0, 59):02d}",
                        "content": _content(rng),
                        "username": _username(rng, tw_users, tw_cum),
                        "followersCount": rng.randint(0, 50_000),
                        "mentionedUsers": ",".join(ments) if m < 0.9
                        else (None if m < 0.95 else ""),
                        "retweetCount": rng.randint(0, 500),
                        "replyCount": rng.randint(0, 50),
                        "inReplyToUser": rng.choices(tw_users, cum_weights=tw_cum)[0]
                        if rng.random() < 0.1 else None,
                        "timeStamp": stamp,
                    })
                _dump(os.path.join(root, "tweets", part, stamp.replace(" ", "T").replace(":", "") + ".json"),
                      window)
                tweets += window
            posts = []
            for i in range(n_posts):
                r = rng.random()
                user = "AutoModerator" if r < 0.03 else _username(rng, rd_users, rd_cum)
                posts.append({
                    "id": f"p{base + i}",
                    "date": _window_stamp(date, i // sz["posts_per_window"]),
                    "title": _words(rng, 2, 8),
                    "content": _content(rng),
                    "username": user,
                    "commentCount": rng.randint(0, 300),
                    "score": rng.randint(-5, 5000),
                    "subreddit": rng.choice(subs) if rng.random() > 0.02 else None,
                })
            comments = []
            for i in range(n_posts * sz["comments_per_post"]):
                parent = (
                    rng.choice(posts)["id"] if rng.random() > 0.05 else f"p_missing{i}"
                )
                comments.append({
                    "id": f"c{base + i}",
                    "date": f"{date} {rng.randint(0, 23):02d}:30:00",
                    "content": _content(rng),
                    "username": "AutoModerator" if rng.random() < 0.03
                    else _username(rng, rd_users, rd_cum),
                    "score": rng.randint(-5, 800),
                    "post_id": parent,
                    "parent_id": parent,
                })
            # the aggregate Lambda writes each topic's day once, two days later
            written = f"aggregate-{date}.json"
            _dump(os.path.join(root, "posts", part, written), posts)
            _dump(os.path.join(root, "comments", part, written), comments)
            if last:
                for table in ("tweets", "posts", "comments"):
                    # a truncated JSON array: one _corrupt_record row
                    with open(os.path.join(root, table, part, "truncated.json"), "w") as f:
                        f.write('[{"id": 1, "content": "cut off')
                    out.corrupt_rows += 1
                for rows in (tweets, posts, comments):
                    for r in rows:
                        r["topic"], r["dataload"] = topic, day
                out.tweets += tweets
                out.posts += posts
                out.comments += comments
    out.rows_in = len(out.tweets) + len(out.posts) + len(out.comments) + out.corrupt_rows
    return out


# --------------------------------------------------------------- graph_rank


@dataclass
class GraphInputs:
    edges: list[tuple[int, int]]
    seeds: list[int]


def gen_graph(seed: int, scale: str = "full") -> GraphInputs:
    """User mention/reply graph: uniform sources, Zipfian in-degree, plus a
    few small disconnected islands so components and cores are non-trivial."""
    sz = SIZES["graph_rank"][scale]
    rng = random.Random(seed)
    n = sz["users"]
    # the popularity ranking is a seeded permutation, not the id order
    ranked = list(range(1, n + 1))
    rng.shuffle(ranked)
    cum = _zipf_cum(n)
    edges = set()
    while len(edges) < sz["edges"]:
        s = rng.randint(1, n)
        d = rng.choices(ranked, cum_weights=cum)[0]
        if s != d:
            edges.add((s, d))
    nxt = n + 1
    for _ in range(sz["islands"]):
        size = rng.randint(2, 5)
        members = list(range(nxt, nxt + size))
        nxt += size
        for a, b in zip(members, members[1:]):
            edges.add((a, b))
        if size > 3:
            edges.add((members[-1], members[0]))
    seeds = rng.sample(range(1, n + 1), sz["seeds"])
    return GraphInputs(edges=sorted(edges), seeds=sorted(seeds))


# ------------------------------------------------------------- late_refresh


@dataclass
class RefreshInputs:
    base_file: str  # the posts table as one JSON-array file
    land: str  # the re-crawl backlog
    base: list[dict]
    update_files: list[str]
    updates: list[dict]
    update_bytes: int
    touched_days: list[str]
    days: list[str]


def gen_refresh(root: str, seed: int, scale: str = "full") -> RefreshInputs:
    """A Reddit posts table to partition by `dataload` and the backlog of the
    last nightly re-crawls (BASELINE.md, late-data re-crawl cadence): each
    night the aggregate Lambda re-fetches every post of the day two days
    back with its settled score and commentCount, plus posts the 15-minute
    scrapes missed, and writes one file per topic. From the second night on,
    the three-day variant re-fetches a sample of the previous night's day
    again, so keys conflict across files; a few of those re-fetches carry a
    stamp older than the night before's (a delayed write), so the merge must
    order by `crawl_ts`, not by arrival. An update keeps its post's
    partition, so only the last `nights` partitions change."""
    sz = SIZES["late_refresh"][scale]
    rng = random.Random(seed)
    days = ["%02d-10-2026" % (1 + d) for d in range(sz["days"])]
    per_topic = sz["windows"] * sz["posts_per_window"]
    base, ts = [], 1_000_000
    for di, day in enumerate(days):
        for ti, topic in enumerate(TOPICS):
            for i in range(per_topic):
                ts += 1
                base.append({
                    "id": f"p{di:02d}{ti}{i:05d}",
                    "topic": topic,
                    "title": _words(rng, 3, 10),
                    "username": f"rd{rng.randint(0, 999)}",
                    "score": rng.randint(0, 100),
                    "commentCount": rng.randint(0, 20),
                    "crawl_ts": ts,
                    "dataload": day,
                })
    base_file = os.path.join(root, "posts.json")
    _dump(base_file, base)
    land = os.path.join(root, "landing")
    touched = days[-sz["nights"]:]
    by_part: dict[tuple, list[dict]] = {}
    for r in base:
        by_part.setdefault((r["dataload"], r["topic"]), []).append(r)
    fresh = stale = 0  # stamp counters: nightly re-fetches / delayed writes
    files, updates, nbytes, latest = [], [], 0, {}
    for night, day in enumerate(touched):
        for ti, topic in enumerate(TOPICS):
            rows = []

            def refetch(src: dict, delayed: bool = False) -> dict:
                nonlocal fresh, stale
                if delayed:
                    stale += 1
                    stamp = 1_500_000 + stale  # older than any nightly re-fetch
                else:
                    fresh += 1
                    stamp = 2_000_000 * (night + 1) + fresh
                row = {**src, "score": rng.randint(0, 20_000),
                       "commentCount": rng.randint(0, 900), "crawl_ts": stamp}
                rows.append(row)
                return row

            for src in by_part[(day, topic)]:
                latest[src["id"]] = refetch(src)
            for i in range(max(1, per_topic // 20)):  # missed by the scrapes
                refetch({"id": f"n{night}{ti}{i:05d}", "topic": topic,
                         "title": _words(rng, 3, 10), "username": f"rd{rng.randint(0, 999)}",
                         "dataload": day})
            if night:
                prev = by_part[(touched[night - 1], topic)]
                for src in rng.sample(prev, max(2, len(prev) // 10)):
                    refetch(latest[src["id"]], delayed=rng.random() < 0.2)
            path = os.path.join(land, f"recrawl-{night}-{topic}.json")
            nbytes += _dump(path, rows)
            # the file source orders files by modification time: pin it, so
            # a micro-batch of two files is one night's re-crawl
            stamp = 1_700_000_000 + 10 * night + ti
            os.utime(path, (stamp, stamp))
            files.append(path)
            updates += rows
    return RefreshInputs(base_file, land, base, files, updates, nbytes, touched, days)


# --------------------------------------------------------- curate_increment

LANG_PHRASES = {
    1: "der hund läuft über die straße und ist nicht müde ",
    2: "le chat est dans la maison et ne veut pas sortir ",
    3: "el perro está en la casa y no quiere salir más ",
    4: "il gatto è nel giardino e non vuole più uscire ",
}

_DOC_VOCAB = (
    "the a fast slow key order sort table scan merge part window small hash "
    "join batch stream spark group query row data filter customer line value "
    "agg column big vector"
).split()


@dataclass
class CurationInputs:
    documents: list[dict]  # the corpus: doc_id, text (the oracle's `documents`)
    corpus: list[dict]  # doc_id, text, url
    batch: list[dict]  # doc_id, text, url


def planted_url(doc_id: int) -> str:
    """The corpus URL rule of the `train_curation_increment_v2` oracle."""
    m = doc_id % 6
    if m == 0:
        return f"HTTP://WWW.News-{doc_id % 7}.COM/Art/{doc_id}/?utm_source=x#top"
    if m == 1:
        return f"https://blog.example{doc_id % 5}.co.uk/Posts/{doc_id}/"
    if m == 2:
        return f"https://User@Media.Site{doc_id % 4}.ORG:8443/v/{doc_id}"
    if m == 3:
        return f"http://192.168.{doc_id % 3}.7/page"
    if m == 4:
        return f"https://Docs.Example{doc_id % 5}.COM.BR/x?y=1"
    return f"not a url {doc_id}"


def gen_curation(seed: int, scale: str = "full") -> CurationInputs:
    """A seeded `documents` corpus (salted word draws and lengths) and the
    admission batch planted from it by the oracle's rules: verbatim corpus
    duplicates (src%4==0), corpus near-duplicates (src%4==2, one appended
    token), multilingual prefixes (src%5), fresh domains (src%7==6) and a
    second wave of within-batch near-duplicates (src%8==1, +' q')."""
    sz = SIZES["curate_increment"][scale]
    rng = random.Random(seed)
    docs = []
    for i in range(sz["corpus"]):
        n = rng.randint(12, 70)
        docs.append({"doc_id": i, "text": " ".join(rng.choice(_DOC_VOCAB) for _ in range(n))})
    corpus = [{**d, "url": planted_url(d["doc_id"])} for d in docs]
    batch = []
    for wave, offset in ((0, 10_000_000), (1, 20_000_000)):
        for d in docs:
            src, text = d["doc_id"], d["text"]
            if wave == 1 and src % 8 != 1:
                continue
            if src % 4 == 0:
                t = text
            elif src % 4 == 2:
                t = text + " nd"
            else:
                t = LANG_PHRASES.get(src % 5, "") * 3 + text + f" b{src}"
            if wave == 1:
                t += " q"
            url = f"https://fresh{src % 9}.org/b/{src}" if src % 7 == 6 else planted_url(src)
            batch.append({"doc_id": src + offset, "text": t, "url": url})
    return CurationInputs(documents=docs, corpus=corpus, batch=batch)
