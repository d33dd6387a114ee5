"""The workloads and probes: seeded inputs, engine-side preparation, one
job, and the output gate that checks the job against `ref.py`.

A workload object owns its working directory. `prepare` is the untimed
engine-side set-up, `reset` the untimed per-job reset, `job` the timed part
(first engine call until the last sink returns), `observe` turns the job's
output into plain Python and `diff` compares that with the reference.
`layers` gives the per-layer numbers of one traced job.

`WORKLOADS` are the timed workloads. A probe (`GraphRank`,
`CurateIncrement`) has the same shape but runs once, traced and gated, at
the end of its host workload's traced run: it measures the layers no timed
workload reaches (`operators/model`, `dedup`, `plans/training`) without
the cost of a timed workload of its own.
"""

from __future__ import annotations

import contextlib
import csv
import glob
import hashlib
import os
import shutil
import statistics

from . import gen, ref, sink
from . import trace as tr


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(p) for p in glob.glob(os.path.join(path, "**", "*"), recursive=True)
        if os.path.isfile(p)
    )


class Workload:
    name = ""
    loop = "closed loop, 1 client, one job at a time"
    probes: tuple = ()  # probe classes run at the end of a traced run

    def __init__(self, work: str, seed: int, scale: str = "full"):
        self.work, self.seed, self.scale = work, seed, scale
        self.tracer: tr.Tracer | None = None

    def span(self, name: str):
        return self.tracer.span(name) if self.tracer else contextlib.nullcontext()

    def prepare(self, spark) -> None:
        pass

    def reset(self, spark) -> None:
        pass

    def job(self, spark):
        raise NotImplementedError

    def observe(self, spark, output):
        return output

    def diff(self, observed) -> list[str]:
        raise NotImplementedError

    def operations(self, observed) -> tuple[int, int]:
        """(attempted, failed) operations inside one job beyond the job
        itself: micro-batches, sink sends."""
        return 0, 0

    def layers(self, spark, root: tr.Span, output, observed) -> dict[str, float]:
        return {}


# --------------------------------------------------------------- daily_etl


class DailyEtl(Workload):
    name = "daily_etl"

    def __init__(self, work, seed, scale="full"):
        super().__init__(work, seed, scale)
        self.inputs = gen.gen_daily(os.path.join(work, "landing"), seed, scale)
        tw = ref.twitter_graph(self.inputs.tweets, gen.BLOCKLIST)
        rd = ref.reddit_graph(self.inputs.posts, self.inputs.comments, gen.BLOCKLIST)
        # one property graph: both sources' nodes and edges, keyed by label
        # or relation type (POSTED_BY is shared)
        self.want_nodes = {**tw[0], **rd[0]}
        self.want_edges = {k: tw[1].get(k, set()) | rd[1].get(k, set())
                           for k in set(tw[1]) | set(rd[1])}
        self.input_rows = self.inputs.rows_in
        self.out = os.path.join(work, "out")

    def reset(self, spark):
        spark.catalog.clearCache()  # the previous job's quarantine caches
        shutil.rmtree(self.out, ignore_errors=True)
        os.makedirs(os.path.join(self.out, "sink"))

    def _scan(self, spark, table: str):
        from reddit_twitter_big_data_pipeline_spark import schemas
        from reddit_twitter_big_data_pipeline_spark.sources import readers

        schema = {"tweets": schemas.TWEETS, "posts": schemas.REDDIT_POSTS,
                  "comments": schemas.REDDIT_COMMENTS}[table]
        return readers.read_partitioned_json(
            spark, os.path.join(self.inputs.root, table), schema,
            dataload=self.inputs.dataload,
        )

    def _read(self, spark, table: str):
        from reddit_twitter_big_data_pipeline_spark.sources import readers

        raw = self._scan(spark, table)
        return raw, *readers.quarantine_split(raw)

    def job(self, spark):
        from reddit_twitter_big_data_pipeline_spark.operators import model
        from reddit_twitter_big_data_pipeline_spark.plans import social
        from reddit_twitter_big_data_pipeline_spark.sinks import graph_sink, writers

        with self.span("sources.read"):
            scans = {t: self._read(spark, t) for t in ("tweets", "posts", "comments")}
        with self.span("plans.build"):
            tw_nodes, tw_edges = social.twitter_pipeline(scans["tweets"][1], blocklist=gen.BLOCKLIST)
            rd_nodes, rd_edges = social.reddit_pipeline(
                scans["posts"][1], scans["comments"][1], blocklist=gen.BLOCKLIST
            )
            nodes = model.union_sources(tw_nodes, rd_nodes)
            edges = model.union_sources(tw_edges, rd_edges)
        with self.span("writers.csv"):
            writers.write_csv_snapshot(nodes, os.path.join(self.out, "csv"))
        factory = sink.transport_factory(
            os.path.join(self.out, "sink"), self.seed, graph_sink.TransientSinkError
        )
        with self.span("graph_sink.write_graph"):
            graph_sink.write_graph(nodes, edges, factory, batch_size=200)
        with self.span("sources.quarantine_report"):
            corrupt = sum(c.count() for _, _, c in scans.values())
        return {"corrupt": corrupt, "scans": scans}

    def observe(self, spark, output):
        csv_ids: dict[str, set] = {}
        for path in sorted(glob.glob(os.path.join(self.out, "csv", "*.csv"))):
            with open(path, newline="") as f:
                rows = csv.reader(f, escapechar="\\", doublequote=False)
                header = next(rows, None)
                if header is None:
                    continue
                i, j = header.index("node_id"), header.index("label")
                for r in rows:
                    csv_ids.setdefault(r[j], set()).add(r[i])
        sends = sink.read_sends(os.path.join(self.out, "sink"))
        return {"corrupt": output["corrupt"], "csv": csv_ids, "sends": sends,
                "merged": sink.merged_keys(sends)}

    def diff(self, obs):
        out = []
        if obs["corrupt"] != self.inputs.corrupt_rows:
            out.append(f"quarantined {obs['corrupt']} rows, planted {self.inputs.corrupt_rows}")
        merged = obs["merged"]
        out += ref.diff_keyed("nodes sent", {k: merged.get(k, ()) for k in self.want_nodes},
                              self.want_nodes)
        out += ref.diff_keyed("edges sent", {k: merged.get(k, ()) for k in self.want_edges},
                              self.want_edges)
        extra = set(merged) - set(self.want_nodes) - set(self.want_edges)
        if extra:
            out.append(f"unexpected kinds sent: {sorted(extra)}")
        out += ref.diff_keyed("csv nodes", obs["csv"], self.want_nodes)
        return out

    def operations(self, obs):
        # a send failed for good if its last attempt failed
        last: dict[tuple, bool] = {}
        for s in obs["sends"]:
            last[(s["kind"], repr(s["keys"][0]))] = s["ok"]
        return len(last), sum(1 for ok in last.values() if not ok)

    def layers(self, spark, root, output, obs):
        t = self.tracer
        sends = obs["sends"]
        rows_sent = sum(len(s["keys"]) for s in sends)
        merged = sum(len(k) for k in obs["merged"].values())
        spans = {s.name: s for s in t.descendants(root)}
        m = {
            "writers.csv_s": spans["writers.csv"].seconds,
            "writers.bytes_written": _dir_bytes(os.path.join(self.out, "csv")),
            "graph_sink.s": spans["graph_sink.write_graph"].seconds,
            "graph_sink.sends": len(sends),
            "graph_sink.rows_sent": rows_sent,
            "graph_sink.retries": sum(1 for s in sends if not s["ok"]),
            "graph_sink.useful_ratio": merged / rows_sent if rows_sent else 0.0,
        }
        # a cached scan lists no input files: drop the job's caches first
        spark.catalog.clearCache()
        m["sources.files_listed"] = sum(len(self._scan(spark, t).inputFiles()) for t in output["scans"])
        m.update(self._prefix_probe(spark))
        return m

    def _prefix_probe(self, spark) -> dict[str, float]:
        """Self time per layer as the difference between noop-forced
        prefixes of the daily plan: scan, +cleanse, +enrich, +graph."""
        from reddit_twitter_big_data_pipeline_spark.functions import enrich
        from reddit_twitter_big_data_pipeline_spark.operators import cleanse
        from reddit_twitter_big_data_pipeline_spark.plans import graph

        from .harness import python_worker_cpu_s

        sc = spark.sparkContext
        spark.catalog.clearCache()

        def force(*dfs):
            with self.span("probe") as s:
                for df in dfs:
                    df.write.format("noop").mode("overwrite").save()
            tr.drain_listener_bus(sc)
            return s

        def cpu(s):
            return tr.stage_totals(sc, s.jobs)["executor_cpu_s"]

        bl = gen.BLOCKLIST
        tw = self._read(spark, "tweets")
        po = self._read(spark, "posts")
        co = self._read(spark, "comments")
        scans = (tw, po, co)
        s_src = force(*(c for _, c, _ in scans))
        input_bytes = tr.stage_totals(sc, s_src.jobs)["input_bytes"]
        s_base = force(*(c for _, c, _ in scans))
        corrupt_rows = sum(q.count() for _, _, q in scans)
        rows_clean = sum(c.count() for _, c, _ in scans)

        # the cleanse chains of plans/social.py, rebuilt here so each prefix
        # of the plan can be forced on its own
        def cl_tweets(df):
            df = cleanse.scrub_sentinels(df)
            df = cleanse.filter_length(df, ["content"], 1000)
            df = cleanse.filter_blocklist(df, ["content"], bl)
            return cleanse.parse_mentions(df)

        def cl_reddit(df):
            df = cleanse.scrub_empty(df, ["content", "username"])
            df = cleanse.scrub_sentinels(df)
            df = cleanse.filter_bots(df)
            df = cleanse.filter_length(df, ["content"], 1000)
            return cleanse.filter_blocklist(df, ["content"], bl)

        cleansed = (cl_tweets(tw[1]), cl_reddit(po[1]), cl_reddit(co[1]))
        s_cl = force(*cleansed)
        kept = sum(c.count() for c in cleansed)
        enriched = tuple(enrich.enrich(c) for c in cleansed)
        w0 = python_worker_cpu_s()
        s_en = force(*enriched)
        py_cpu = python_worker_cpu_s() - w0
        tn, te = graph.twitter_graph(enriched[0])
        rn, re_ = graph.reddit_graph(enriched[1], enriched[2])
        s_gr = force(tn, te, rn, re_)
        graph_shuffle = tr.stage_totals(sc, s_gr.jobs)["shuffle_write_bytes"]
        nodes_out = tn.count() + rn.count()
        edges_out = te.count() + re_.count()
        spark.catalog.clearCache()
        return {
            "sources.self_s": s_src.seconds,
            "sources.input_bytes": input_bytes,
            "sources.rows_in": rows_clean + corrupt_rows,
            "sources.corrupt_rows": corrupt_rows,
            "cleanse.self_s": max(0.0, s_cl.seconds - s_base.seconds),
            "cleanse.kept_ratio": kept / rows_clean if rows_clean else 0.0,
            "enrich.self_s": max(0.0, s_en.seconds - s_cl.seconds),
            "enrich.executor_cpu_s": max(0.0, cpu(s_en) - cpu(s_cl)) + py_cpu,
            "enrich.rows": kept,
            "graph.self_s": max(0.0, s_gr.seconds - s_en.seconds),
            "graph.nodes_out": nodes_out,
            "graph.edges_out": edges_out,
            "graph.shuffle_bytes": graph_shuffle,
        }


# --------------------------------------------------------------- graph_rank


class GraphRank(Workload):
    name = "graph_rank"
    CALLS = (("model.hits", "model.hits_s"), ("model.ppr", "model.ppr_s"),
             ("dedup.connected_components", "dedup.connected_components_s"),
             ("model.k_core", "model.k_core_s"))
    K = 3
    # each HITS/PPR round is a few small sequential jobs: three rounds show
    # the per-round cost and keep the traced run short
    N_ITER = 3

    def __init__(self, work, seed, scale="full"):
        super().__init__(work, seed, scale)
        self.inputs = gen.gen_graph(seed, scale)
        e = self.inputs.edges
        self.want = {
            "hits": ref.hits(e, n_iter=self.N_ITER),
            "ppr": ref.personalized_pagerank(e, self.inputs.seeds, n_iter=self.N_ITER),
            "cc": ref.components(e),
            "kcore": ref.k_core(e, self.K),
        }
        self.input_rows = len(e)
        self.table = os.path.join(work, "edges")

    def prepare(self, spark):
        with self.span("prepare.edge_table"):
            spark.createDataFrame(self.inputs.edges, "src long, dst long").write.mode(
                "overwrite"
            ).parquet(self.table)

    def job(self, spark):
        from reddit_twitter_big_data_pipeline_spark.operators import dedup, model

        edges = spark.read.parquet(self.table)
        seeds = spark.createDataFrame([(s,) for s in self.inputs.seeds], "node long")
        frames = {}
        with self.span("model.hits"):
            frames["hits"] = model.hits(edges, n_iter=self.N_ITER)
            hits = {r.node: (r.hub, r.authority) for r in frames["hits"].collect()}
        with self.span("model.ppr"):
            frames["ppr"] = model.personalized_pagerank(edges, seeds, n_iter=self.N_ITER)
            ppr = {r.node: r.rank for r in frames["ppr"].collect()}
        with self.span("dedup.connected_components"):
            frames["cc"] = dedup.connected_components(edges, a_col="src", b_col="dst")
            cc = {r.node: r.component for r in frames["cc"].collect()}
        with self.span("model.k_core"):
            frames["kcore"] = model.k_core(edges, k=self.K)
            kc = {r.node: r.degree for r in frames["kcore"].collect()}
        return {"hits": hits, "ppr": ppr, "cc": cc, "kcore": kc, "frames": frames}

    def observe(self, spark, output):
        return {k: output[k] for k in ("hits", "ppr", "cc", "kcore")}

    def diff(self, obs):
        w = self.want
        return (
            ref.diff_scores("hits.hub", {k: v[0] for k, v in obs["hits"].items()},
                            {k: v[0] for k, v in w["hits"].items()})
            + ref.diff_scores("hits.authority", {k: v[1] for k, v in obs["hits"].items()},
                              {k: v[1] for k, v in w["hits"].items()})
            + ref.diff_scores("ppr", obs["ppr"], w["ppr"])
            + ref.diff_exact("components", obs["cc"], w["cc"])
            + ref.diff_exact("k_core", obs["kcore"], w["kcore"])
        )

    def layers(self, spark, root, output, obs):
        sc = spark.sparkContext
        spans = {s.name: s for s in self.tracer.descendants(root)}
        m, jobs, between = {}, [], 0.0
        for span_name, metric in self.CALLS:
            s = spans[span_name]
            m[metric] = s.seconds
            jobs += s.jobs
            between += max(0.0, s.seconds - tr.union_seconds(tr.job_intervals(sc, s.jobs)))
        m["model.jobs"] = len(jobs)
        m["model.stages"] = tr.stage_totals(sc, jobs)["stages"]
        m["model.plan_chars"] = sum(tr.plan_chars(f) for f in output["frames"].values())
        m["model.between_jobs_s"] = between
        return m


# ------------------------------------------------------------- late_refresh


def _tree_hashes(root: str) -> dict[str, str]:
    """{relative data file: md5} for every parquet file under `root`."""
    out = {}
    for p in glob.glob(os.path.join(root, "**", "*.parquet"), recursive=True):
        with open(p, "rb") as f:
            out[os.path.relpath(p, root)] = hashlib.md5(f.read()).hexdigest()
    return out


def _by_partition(hashes: dict[str, str]) -> dict[str, dict[str, str]]:
    out: dict[str, dict[str, str]] = {}
    for rel, h in hashes.items():
        out.setdefault(os.path.dirname(rel), {})[rel] = h
    return out


class LateRefresh(Workload):
    name = "late_refresh"
    COLS = ("id", "topic", "title", "username", "score", "commentCount", "crawl_ts",
            "dataload")
    DDL = ("id string, topic string, title string, username string, score int, "
           "commentCount int, crawl_ts long, dataload string")
    FILES_PER_TRIGGER = len(gen.TOPICS)  # a micro-batch is one night's re-crawl

    def __init__(self, work, seed, scale="full"):
        super().__init__(work, seed, scale)
        self.inputs = gen.gen_refresh(os.path.join(work, "inputs"), seed, scale)
        self.want = ref.last_writer_wins(self.inputs.base, self.inputs.updates)
        self.input_rows = len(self.inputs.updates)
        self.pristine = os.path.join(work, "pristine")
        self.target = os.path.join(work, "table")
        self.ckpt = os.path.join(work, "checkpoint")
        self.pristine_parts: dict[str, dict[str, str]] = {}

    def prepare(self, spark):
        with self.span("prepare.posts_table"):
            spark.read.schema(self.DDL).option("multiLine", True).json(
                self.inputs.base_file
            ).write.mode("overwrite").partitionBy("dataload").parquet(self.pristine)
        self.pristine_parts = _by_partition(_tree_hashes(self.pristine))

    def reset(self, spark):
        shutil.rmtree(self.target, ignore_errors=True)
        shutil.rmtree(self.ckpt, ignore_errors=True)
        shutil.copytree(self.pristine, self.target)

    def job(self, spark):
        from pyspark.sql import types as T

        from reddit_twitter_big_data_pipeline_spark.streaming import streams

        schema = T._parse_datatype_string(self.DDL)
        with self.span("streams.drain"):
            src = streams.read_json_stream(
                spark, self.inputs.land, schema, max_files_per_trigger=self.FILES_PER_TRIGGER
            )
            q = streams.upsert_stream(
                src, self.target, self.ckpt, keys=["id"], order_col="crawl_ts",
                partition_cols=["dataload"],
            )
            streams.run_to_completion(q, timeout_s=150)
        return {"progress": [_progress_dict(p) for p in q.recentProgress], "run_id": str(q.runId)}

    def observe(self, spark, output):
        import pyarrow.dataset as ds

        table = ds.dataset(self.target, format="parquet", partitioning="hive").to_table()
        rows = [tuple(r[c] for c in self.COLS) for r in table.to_pylist()]
        return {"rows": rows, "parts": _by_partition(_tree_hashes(self.target)),
                "progress": output["progress"]}

    def diff(self, obs):
        out = []
        ids = [r[0] for r in obs["rows"]]
        if len(ids) != len(set(ids)):
            out.append(f"{len(ids) - len(set(ids))} keys hold more than one row")
        want = {tuple(r[c] for c in self.COLS) for r in self.want.values()}
        out += ref.diff_sets("table rows", set(obs["rows"]), want)
        for part, files in self.pristine_parts.items():
            if part.split("=", 1)[1] not in self.inputs.touched_days and obs["parts"].get(part) != files:
                out.append(f"untouched partition {part} was rewritten")
        return out

    def _batches(self, progress):
        return [p for p in progress if p["numInputRows"] > 0]

    def operations(self, obs):
        return len(self._batches(obs["progress"])), 0

    def layers(self, spark, root, output, obs):
        batches = self._batches(output["progress"])

        def total(key):
            return sum(p["durationMs"].get(key, 0) for p in batches) / 1e3

        changed = [p for p, files in obs["parts"].items() if self.pristine_parts.get(p) != files]
        untouched = [p for p in changed if p.split("=", 1)[1] not in self.inputs.touched_days]
        rewritten = sum(
            os.path.getsize(os.path.join(self.target, rel))
            for p in changed for rel in obs["parts"][p]
        )
        return {
            "streams.batches": len(batches),
            "streams.microbatch_p50_s": statistics.median(
                p["durationMs"]["triggerExecution"] / 1e3 for p in batches
            ),
            "streams.input_rows": sum(p["numInputRows"] for p in batches),
            "streams.add_batch_s": total("addBatch"),
            "streams.get_batch_s": total("getBatch"),
            "streams.query_planning_s": total("queryPlanning"),
            "streams.wal_commit_s": total("walCommit"),
            "writers.partitions_rewritten": len(changed),
            "writers.untouched_rewritten": len(untouched),
            "writers.write_amplification": rewritten / self.inputs.update_bytes,
        }

    def stream_jobs(self, spark, output) -> list[int]:
        return list(spark.sparkContext.statusTracker().getJobIdsForGroup(output["run_id"]))


def _progress_dict(p) -> dict:
    return {"numInputRows": p["numInputRows"], "durationMs": dict(p["durationMs"])}


# --------------------------------------------------------- curate_increment


class CurateIncrement(Workload):
    name = "curate_increment"

    def __init__(self, work, seed, scale="full"):
        super().__init__(work, seed, scale)
        import pyarrow as pa
        import pyarrow.parquet as pq

        self.inputs = gen.gen_curation(seed, scale)
        self.want = ref.curation_oracle(self.inputs.documents)
        self.input_rows = len(self.inputs.batch)
        self.paths = {}
        os.makedirs(work, exist_ok=True)
        for name in ("corpus", "batch"):
            self.paths[name] = os.path.join(work, f"{name}.parquet")
            rows = getattr(self.inputs, name)
            pq.write_table(
                pa.table({c: [r[c] for r in rows] for c in ("doc_id", "text", "url")}),
                self.paths[name],
            )
        self.state = None
        self.probe_calls: list = []

    def install_trace(self, tracer):
        """Span the MinHash probe that `curate_increment_v2` calls, keeping
        its inputs and result for the candidate-pair count."""
        from reddit_twitter_big_data_pipeline_spark.operators import dedup

        orig = dedup.minhash_incremental_pairs

        def probe(*args, **kw):
            with tracer.span("dedup.probe"):
                out = orig(*args, **kw)
            self.probe_calls.append((args, kw, out))
            return out

        dedup.minhash_incremental_pairs = probe
        return lambda: setattr(dedup, "minhash_incremental_pairs", orig)

    def reset(self, spark):
        self.probe_calls = []

    def prepare(self, spark):
        from reddit_twitter_big_data_pipeline_spark.operators import dedup

        corpus = spark.read.parquet(self.paths["corpus"])
        with self.span("dedup.corpus_state"):
            self.state = dedup.minhash_corpus_state(corpus.select("doc_id", "text"))
            for f in self.state:
                f.count()

    def job(self, spark):
        from reddit_twitter_big_data_pipeline_spark.plans import training

        batch = spark.read.parquet(self.paths["batch"])
        corpus = spark.read.parquet(self.paths["corpus"])
        with self.span("training.build"):
            admitted = training.curate_increment_v2(
                batch, corpus, min_margin=2, domain_cap=15, hash_fn="md5",
                corpus_state=self.state,
            )
        with self.span("training.execute"):
            rows = admitted.collect()
        return {"rows": rows, "frame": admitted}

    def observe(self, spark, output):
        return {(r.doc_id, r.lang, r.domain, r.n_tokens) for r in output["rows"]}

    def diff(self, obs):
        return ref.diff_sets("admitted rows", obs, self.want)

    def layers(self, spark, root, output, obs):
        from pyspark.sql import functions as F

        from reddit_twitter_big_data_pipeline_spark.operators import dedup

        spans = {s.name: s for s in self.tracer.descendants(root)}
        build, execute = spans["training.build"], spans["training.execute"]
        probe = [s for s in self.tracer.descendants(root) if s.name == "dedup.probe"]
        m = {
            "training.build_s": build.seconds,
            "training.build_jobs": len(self.tracer.jobs_under(build)),
            "training.execute_s": execute.seconds,
            "training.jobs": len(self.tracer.jobs_under(build)) + len(execute.jobs),
            "training.plan_chars": tr.plan_chars(output["frame"]),
            "training.admit_ratio": len(obs) / self.input_rows,
            "dedup.probe_s": sum(s.seconds for s in probe),
            "dedup.corpus_state_s": next(
                s.seconds for s in self.tracer.spans if s.name == "dedup.corpus_state"
            ),
        }
        # candidate pairs of the probe, rebuilt from the probe's own inputs
        # with the public LSH functions: pairs with at least one new side
        verified = cands = 0
        for args, kw, result in self.probe_calls:
            new_docs, corpus_docs = args[0], args[1]
            new_ids = new_docs.select(F.col("doc_id").alias("b"))
            sigs = dedup.minhash_signatures(new_docs.unionByName(corpus_docs))
            cands += dedup.lsh_candidate_pairs(sigs).join(new_ids, "b", "left_semi").count()
            verified += result.count()
        m["dedup.candidate_pairs"] = cands
        m["dedup.pair_precision"] = verified / cands if cands else 0.0
        return m


DailyEtl.probes = (GraphRank,)  # downstream analytics of the daily graph
LateRefresh.probes = (CurateIncrement,)

WORKLOADS = {w.name: w for w in (DailyEtl, LateRefresh)}
PROBES = {p.name: p for p in (GraphRank, CurateIncrement)}
