"""The benchmark's own tests: seeded inputs, metric names, a tiny smoke run
of every workload and probe, and gates that fail when one output row is
dropped.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import copy
import hashlib
import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench import gen, harness  # noqa: E402
from perfbench.workloads import PROBES, WORKLOADS  # noqa: E402

ALL = {**WORKLOADS, **PROBES}

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)


def _tree_digest(root: str) -> str:
    h = hashlib.sha256()
    for dirpath, _, files in sorted(os.walk(root)):
        for name in sorted(files):
            path = os.path.join(dirpath, name)
            h.update(os.path.relpath(path, root).encode())
            with open(path, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


# ------------------------------------------------------------ seeded inputs


@pytest.mark.parametrize("make", [
    lambda d, s: gen.gen_daily(d, s, "tiny"),
    lambda d, s: gen.gen_refresh(d, s, "tiny"),
])
def test_same_seed_same_files_other_seed_other_files(tmp_path, make):
    digests = {}
    for tag, seed in (("a", 7), ("b", 7), ("c", 8)):
        make(str(tmp_path / tag), seed)
        digests[tag] = _tree_digest(str(tmp_path / tag))
    assert digests["a"] == digests["b"]
    assert digests["a"] != digests["c"]


@pytest.mark.parametrize("make", [gen.gen_graph, gen.gen_curation])
def test_same_seed_same_inputs_other_seed_other_inputs(make):
    assert make(7, "tiny") == make(7, "tiny")
    assert make(7, "tiny") != make(8, "tiny")


# ---------------------------------------------------- in-process smoke run


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    work = str(tmp_path_factory.mktemp("session"))
    harness.prepare_env(ROOT, work)
    mach = harness.machine()
    s = harness.start_session(work, mach["nproc"])
    yield s
    harness.shutdown_jvm()


@pytest.fixture(scope="module")
def outputs(spark, tmp_path_factory):
    """One tiny job per workload and probe: (workload, observed output)."""
    out = {}
    for name, cls in ALL.items():
        wl = cls(str(tmp_path_factory.mktemp(name)), 1, "tiny")
        wl.prepare(spark)
        wl.reset(spark)
        obs = wl.observe(spark, wl.job(spark))
        out[name] = (wl, obs)
    return out


@pytest.mark.parametrize("name", sorted(ALL))
def test_tiny_job_passes_its_gate(outputs, name):
    wl, obs = outputs[name]
    assert wl.diff(obs) == []


def _drop_one(obs, path):
    """Copy of `obs` with one element removed from the collection at `path`."""
    obs = copy.deepcopy(obs)
    parent = obs
    for key in path[:-1]:
        parent = parent[key]
    coll = parent[path[-1]] if path else obs
    if isinstance(coll, dict):
        coll.pop(next(iter(sorted(coll, key=str))))
    elif isinstance(coll, set):
        coll.discard(sorted(coll, key=str)[0])
    else:
        coll.pop(0)
    return obs


@pytest.mark.parametrize("name,path", [
    ("daily_etl", ("merged", "Tweet")),
    ("daily_etl", ("merged", "COMMENTED_ON")),
    ("daily_etl", ("csv", "Post_Reddit")),
    ("graph_rank", ("hits",)),
    ("graph_rank", ("ppr",)),
    ("graph_rank", ("cc",)),
    ("graph_rank", ("kcore",)),
    ("late_refresh", ("rows",)),
    ("curate_increment", ()),
])
def test_gate_fails_when_one_output_row_is_dropped(outputs, name, path):
    wl, obs = outputs[name]
    assert wl.diff(_drop_one(obs, path)) != []


# ------------------------------------------------------------ CLI contract


def _run_cli(cwd: str, *args: str) -> subprocess.CompletedProcess:
    # the in-process session above put the repository on PYTHONPATH
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args], cwd=cwd, env=env,
        capture_output=True, text=True, timeout=900,
    )


@pytest.mark.parametrize("trace", ["0", "1"])
def test_cli_emits_exactly_the_benchmark_metric_names(trace):
    w = SPEC["workloads"][-1]["name"]
    p = _run_cli(ROOT, "--workload", w, "--seed", "3", "--seconds", "1",
                 "--trace", trace, "--scale", "tiny")
    assert p.returncode == 0, p.stderr[-3000:]
    line = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(line) == {"correct", "attempted", "failed", "metrics"}
    assert line["correct"] and line["failed"] == 0 and line["attempted"] >= 1
    want = SPEC["per_layer"] if trace == "1" else SPEC["end_to_end"]
    assert set(line["metrics"]) == {m["name"] for m in want}
    units = {m["name"]: m["unit"] for m in want}
    assert all(v["unit"] == units[k] for k, v in line["metrics"].items())
    if trace == "1":  # the workload's probes ran, traced, in the same run
        assert all(line["metrics"][m]["value"] > 0 for m in PROBE_METRICS[w])


PROBE_METRICS = {
    "daily_etl": ("model.hits_s", "model.jobs", "dedup.connected_components_s"),
    "late_refresh": ("training.build_s", "dedup.probe_s", "dedup.corpus_state_s"),
}


def test_benchmark_json_lists_every_workload():
    assert {w["name"] for w in SPEC["workloads"]} == set(WORKLOADS)


def test_every_probe_has_a_host():
    assert {p for w in WORKLOADS.values() for p in w.probes} == set(PROBES.values())


def test_cli_fails_without_the_engine(tmp_path):
    """Run from a directory holding only BENCHMARK.json and the benchmark."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = _run_cli(str(tmp_path), "--workload", SPEC["workloads"][0]["name"], "--seed", "1",
                 "--seconds", "1", "--trace", "0")
    assert p.returncode != 0
    assert '"correct"' not in p.stdout
