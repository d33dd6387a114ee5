"""One benchmark run: cold set-up, first job, warm loop, set-up repeats.

End-to-end metrics come from untraced runs only (`--trace 0`). A traced run
(`--trace 1`) alternates untraced and traced warm jobs, reports the
per-layer numbers of its last traced job, then runs the workload's probes
once each, and writes its spans once at the end. Every run records the
machine it ran on.

`setup_s` is the one cold set-up of the run: JVM launch, session, warm-up
and preparation. Set-ups repeated on a running JVM would leave out the
launch, which is most of it; repeated launches would cost the run more
than its jobs do.
"""

from __future__ import annotations

import json
import os
import platform
import shutil
import statistics
import sys
import threading
import time
import traceback
import uuid

from . import trace as tr

WARMUP_SQL = "SELECT sum(id) FROM range(100000)"


# ------------------------------------------------------------- process tree


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name may hold spaces and parentheses: split after the last ')'
    return [raw[: raw.rindex(")") + 1]] + raw[raw.rindex(")") + 2 :].split()


def process_tree(root: int | None = None) -> list[int]:
    """`root` (default: this process) and all of its descendants."""
    root = root or os.getpid()
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st:
                children.setdefault(int(st[2]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo += children.get(pid, [])
    return out


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


def _is_java(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip() == "java"
    except OSError:
        return False


def python_worker_cpu_s() -> float:
    """CPU seconds of the Python workers under the JVM, reaped ones included."""
    tick = os.sysconf("SC_CLK_TCK")
    total = 0
    for pid in process_tree()[1:]:
        st = _stat(pid)
        if st and not _is_java(pid):
            total += sum(int(x) for x in st[12:16])  # utime stime cutime cstime
    return total / tick


class RssSampler:
    """Peak summed RSS of this process, the JVM and the Python workers,
    sampled from /proc every `period` seconds on a background thread."""

    def __init__(self, period: float = 0.5):
        self.period, self.peak = period, 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        while not self._stop.is_set():
            self.peak = max(self.peak, sum(_rss_bytes(p) for p in process_tree()))
            self._stop.wait(self.period)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)


# ------------------------------------------------------------------ session


def cpu_steal_s() -> float:
    """CPU time the hypervisor gave to other guests, summed over all CPUs."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK") if len(fields) > 8 else 0.0


def machine() -> dict:
    with open("/proc/meminfo") as f:
        mem_kb = int(next(line for line in f if line.startswith("MemTotal")).split()[1])
    import pyspark

    return {
        "nproc": len(os.sched_getaffinity(0)),
        "ram_gb": round(mem_kb / 2**20, 1),
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
    }


# Far below the machine's RAM and ample for the jobs. Only the maximum is
# set, so the heap, and with it the peak RSS, follows what the jobs use.
DRIVER_MEMORY = "1g"


def start_session(work: str, nproc: int):
    from reddit_twitter_big_data_pipeline_spark import session

    return session.get_spark(
        app_name="perfbench",
        cpus=nproc,
        extra_conf={
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        },
    )


def shutdown_jvm() -> None:
    """Stop the session, close the JVM and wait for it and its Python
    workers to exit."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    pids = process_tree()[1:]
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()  # the gateway exits when its stdin closes
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait(timeout=10)
    deadline = time.monotonic() + 20
    while pids and time.monotonic() < deadline:
        pids = [p for p in pids if os.path.exists(f"/proc/{p}") and _stat(p)
                and _stat(p)[1] != "Z"]
        time.sleep(0.1)
    for p in pids:
        try:
            os.kill(p, 9)
        except OSError:
            pass


def _setup(wl, work, mach):
    """The cold set-up: JVM launch and session start, JVM warm-up,
    engine-side preparation. Returns (session, set-up seconds,
    session-start seconds)."""
    t0 = time.perf_counter()
    with wl.span("session.start"):
        spark = start_session(work, mach["nproc"])
    started = time.perf_counter() - t0
    if wl.tracer:
        wl.tracer.bind(spark)
    spark.sql(WARMUP_SQL).collect()
    wl.prepare(spark)
    return spark, time.perf_counter() - t0, started


# ---------------------------------------------------------------------- run


class Tally:
    def __init__(self):
        self.attempted = self.failed = 0
        self.errors: list[str] = []

    def fail(self, msg: str) -> None:
        self.failed += 1
        if len(self.errors) < 20:
            self.errors.append(msg)


def _one_job(wl, spark, tally: Tally):
    """reset → timed job → gate. Returns (seconds, output, observed)."""
    wl.reset(spark)
    tally.attempted += 1
    t0 = time.perf_counter()
    try:
        out = wl.job(spark)
    except Exception:
        secs = time.perf_counter() - t0
        tally.fail(traceback.format_exc(limit=3))
        return secs, None, None
    secs = time.perf_counter() - t0
    obs = wl.observe(spark, out)
    att, bad = wl.operations(obs)
    tally.attempted += att + 1  # the inner operations and the output check
    tally.failed += bad
    mism = wl.diff(obs)
    if mism:
        tally.fail("output check: " + "; ".join(mism[:5]))
    return secs, out, obs


def run_probe(cls, spark, host, work: str, tally: Tally) -> dict[str, float]:
    """One traced, gated job of a probe on the host's session; returns its
    per-layer numbers. Its input generation and preparation stay outside
    the job's span."""
    tracer = host.tracer
    probe = cls(os.path.join(work, cls.name), host.seed, host.scale)
    probe.tracer = tracer
    undo = probe.install_trace(tracer) if hasattr(probe, "install_trace") else None
    try:
        try:
            probe.prepare(spark)
        except Exception:
            tally.attempted += 1
            tally.fail(traceback.format_exc(limit=3))
            return {}
        with tracer.span(cls.name) as root:
            _, out, obs = _one_job(probe, spark, tally)
        if out is None:
            return {}
        tr.drain_listener_bus(spark.sparkContext)
        return probe.layers(spark, root, out, obs)
    finally:
        if undo:
            undo()


def run(wl, work: str, seconds: float, traced: bool) -> dict:
    mach = machine()
    tally = Tally()
    info: dict = {"machine": mach, "workload": wl.name, "seed": wl.seed, "scale": wl.scale,
                  "trace": int(traced), "loop": wl.loop, "input_rows": wl.input_rows,
                  "driver_memory": DRIVER_MEMORY}
    tracer = tr.Tracer(uuid.uuid4().hex[:12]) if traced else None
    wl.tracer = tracer
    steal0 = cpu_steal_s()
    with RssSampler() as rss:
        spark, setup_s, started = _setup(wl, work, mach)
        mach["java"] = spark._jvm.java.lang.System.getProperty("java.version")
        undo = wl.install_trace(tracer) if traced and hasattr(wl, "install_trace") else None

        def job(use_tracer: bool):
            wl.tracer = tracer if use_tracer else None
            if not use_tracer:
                return _one_job(wl, spark, tally) + (None,)
            with tracer.span("job") as root:
                res = _one_job(wl, spark, tally)
            return res + (root,)

        first = job(traced)
        warm, traced_warm = [], []
        last = first
        deadline = time.perf_counter() + seconds
        turn = False  # traced runs alternate untraced / traced, ending traced
        while True:
            use = traced and turn
            res = job(use)
            (traced_warm if use else warm).append(res[0])
            if use:
                last = res
            turn = not turn
            if time.perf_counter() >= deadline and (not traced or use):
                break

        metrics: dict[str, float] = {}
        if traced:
            secs, out, obs, root = last
            tr.drain_listener_bus(spark.sparkContext)
            if out is not None:
                metrics.update(wl.layers(spark, root, out, obs))
                jobs = tracer.jobs_under(root)
                if hasattr(wl, "stream_jobs"):
                    jobs += wl.stream_jobs(spark, out)
                tr.drain_listener_bus(spark.sparkContext)
                totals = tr.stage_totals(spark.sparkContext, jobs)
                metrics["spark.jobs"] = len(set(jobs))
                metrics.update({f"spark.{k}": v for k, v in totals.items() if k != "input_bytes"})
            metrics["trace.overhead_ratio"] = (
                statistics.median(traced_warm) / statistics.median(warm)
            )
            if undo:
                undo()
            metrics["session.start_s"] = started
            for cls in wl.probes:
                metrics.update(run_probe(cls, spark, wl, work, tally))
        else:
            job_s = statistics.median(warm)
            metrics.update({
                "setup_s": setup_s,
                "first_job_s": first[0],
                "job_s": job_s,
                "rows_per_s": wl.input_rows / job_s,
            })
            info["job_samples_s"] = warm
        info["session_start_s"] = started
        shutdown_jvm()
    info["cpu_steal_s"] = cpu_steal_s() - steal0
    if not traced:
        metrics["peak_rss_mb"] = rss.peak / 2**20
    metrics["error_rate"] = tally.failed / tally.attempted
    info["attempted"], info["failed"], info["errors"] = tally.attempted, tally.failed, tally.errors
    if traced:
        info["traced_job_samples_s"], info["untraced_job_samples_s"] = traced_warm, warm
        tracer.dump(os.path.join(work, "trace.json"), {"info": info})
    return {"metrics": metrics, "info": info, "tally": tally}


def prepare_env(root: str, work: str) -> None:
    """Fresh working directory; everything the engine and its Python
    workers write stays inside it. Call before the JVM starts."""
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, d))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [root] + [x for x in os.environ.get("PYTHONPATH", "").split(os.pathsep) if x]
    )
    from pyspark import cloudpickle

    from . import sink

    cloudpickle.register_pickle_by_value(sink)  # the transport runs in workers


def main(argv: list[str], root: str) -> int:
    import argparse

    p = argparse.ArgumentParser(prog="perfbench/run.py")
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", choices=("full", "tiny"), default="full")
    args = p.parse_args(argv)

    try:
        import reddit_twitter_big_data_pipeline_spark  # noqa: F401 - the engine under test
    except ImportError as e:
        print(f"perfbench: the engine package is not importable from {root}: {e}",
              file=sys.stderr)
        return 2
    from .workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    bench_dir = os.path.join(root, ".perfbench")
    work = os.path.join(bench_dir, "work", f"{args.workload}-{args.seed}-{args.trace}")
    prepare_env(root, work)

    t0 = time.perf_counter()
    wl = WORKLOADS[args.workload](work, args.seed, args.scale)
    gen_s = time.perf_counter() - t0
    try:
        res = run(wl, work, args.seconds, bool(args.trace))
    finally:
        shutdown_jvm()
    res["info"]["input_generation_s"] = gen_s
    tally = res["tally"]
    correct = tally.failed == 0
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    # a traced run reports every per-layer metric; a layer the workload
    # never calls did no work and reads 0
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    line = {
        "correct": correct,
        "attempted": tally.attempted,
        "failed": tally.failed,
        "metrics": {
            m["name"]: {"value": res["metrics"].get(m["name"], 0.0), "unit": m["unit"]}
            for m in wanted
        },
    }
    os.makedirs(os.path.join(bench_dir, "results"), exist_ok=True)
    with open(os.path.join(bench_dir, "results",
                           f"{args.workload}-{args.seed}-trace{args.trace}.json"), "w") as f:
        json.dump({**line, "all_metrics": res["metrics"], "info": res["info"]}, f, indent=1)
    for e in tally.errors:
        print(f"perfbench: {e}", file=sys.stderr)
    print(json.dumps({"info": res["info"]}, default=str))
    print(json.dumps(line))
    return 0 if correct else 1

