"""bleve_spark benchmark: one workload, one seed, one fresh process.

    python3 perfbench/run.py --workload query_mix --seed 1 --seconds 15 --trace 0

Run from the root of a checkout. The last line of stdout is one JSON
object: {"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end metrics of BENCHMARK.json; with --trace 1 the
per-layer metrics, derived from spans the benchmark records around the
calls into each bleve_spark layer. See perfbench/README.md.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, ".out")

E2E = ("setup_s", "build_docs_per_s", "index_bytes_per_input_byte", "query_p50_s",
       "queries_per_s", "ingest_docs_per_s", "peak_rss_mb")
# span name prefixes; `bench` is the benchmark's own client code
LAYERS = ("bench", "build", "index", "query", "search", "session", "writer")


def die(msg: str):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)
    sys.exit(2)


# -- process tree ---------------------------------------------------------------

def _procs():
    """pid -> ppid for every process visible in /proc."""
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                out[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError):
            continue
    return out


def descendants(procs, root):
    kids = {}
    for pid, ppid in procs.items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _pss_kb(pid):
    """Proportional set size: pages shared between the forked Python
    workers count once in the sum, not once per worker."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler(threading.Thread):
    """Peak summed memory (PSS) of this process and all its descendants
    (driver JVM and Python workers), sampled every 0.5 s."""

    def __init__(self):
        super().__init__(daemon=True)
        self.peak_kb = 0
        self.at_peak = {}  # pid -> PSS kB at the peak sample
        self._halt = threading.Event()

    def sample(self):
        me = os.getpid()
        per = {p: _pss_kb(p) for p in [me] + descendants(_procs(), me)}
        kb = sum(per.values())
        if kb > self.peak_kb:
            self.peak_kb, self.at_peak = kb, per

    def run(self):
        while not self._halt.wait(0.5):
            self.sample()

    def stop(self):
        self._halt.set()
        self.join()
        self.sample()


def stop_spark(spark):
    """Stop Spark, its JVM and every worker process, and wait for them."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if spark is not None:
        spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.time() + 20
    while True:
        left = descendants(_procs(), os.getpid())
        if not left:
            return
        if time.time() > deadline:
            for p in left:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        time.sleep(0.1)


# -- tracing overhead -------------------------------------------------------------

def overhead(workload, seed, traced):
    """Traced minus untraced end-to-end metrics. The untraced figures are
    those of the untraced run of the same workload and seed, or else the
    median of this checkout's untraced runs of the workload."""
    runs = []
    for name in sorted(os.listdir(OUT)):
        if name.startswith(f"result-{workload}-") and name.endswith(".json"):
            with open(os.path.join(OUT, name)) as f:
                runs.append((name == f"result-{workload}-{seed}.json", json.load(f)))
    same = [r for exact, r in runs if exact]
    base = same or [r for _, r in runs]
    out = {}
    for m in E2E:
        value, unit = traced[m]
        # results written by an older benchmark may lack a metric
        refs = [r[m] for r in base if m in r]
        ref = statistics.median(refs) if refs else value
        out[f"overhead.{m}"] = (value - ref, unit)
    if not base:
        print("[perfbench] no untraced run recorded yet: overhead reads 0", file=sys.stderr)
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "bleve_spark", "__init__.py")):
        die(f"no bleve_spark package under {ROOT}: run from the root of a checkout")
    sys.path[:0] = [HERE, ROOT]
    from workloads import WORKLOADS, Run, log, start_session

    if args.workload not in WORKLOADS:
        die(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")

    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_kb = int(f.readline().split()[1])
    work = os.path.join(HERE, ".work")
    local_dir = os.path.join(work, f"spark-local-{os.getpid()}")
    tmp_dir = os.path.join(work, f"tmp-{os.getpid()}")
    for d in (OUT, local_dir, tmp_dir):
        os.makedirs(d, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        # the driver heap never needs more than an eighth of RAM here
        "BLEVE_SPARK_DRIVER_MEM": f"{max(1, min(4, mem_kb // (8 << 20)))}g",
        "PYTHONPATH": os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")])),
        "PYSPARK_PYTHON": sys.executable,
        "SPARK_LOCAL_DIRS": local_dir,
        "TMPDIR": tmp_dir,
        # no hsperfdata files in /tmp from the launcher or driver JVM
        "JAVA_TOOL_OPTIONS": "-XX:-UsePerfData",
    })

    from tracing import Tracer

    tracer = Tracer(bool(args.trace))
    if tracer.enabled:
        tracer.instrument()
    seed = args.seed % (1 << 31)
    run = Run(ROOT, args.workload, seed, args.seconds, tracer, T_START)
    rss = RssSampler()
    rss.start()
    spark = None
    try:
        spark = start_session(run, cpus, local_dir, tmp_dir)
        WORKLOADS[args.workload](run)
    finally:
        stop_spark(spark)
        rss.stop()
        for d in (run.work, local_dir, tmp_dir):
            shutil.rmtree(d, ignore_errors=True)
    run.e2e["peak_rss_mb"] = (rss.peak_kb / 1024, "MB")
    log("peak memory by process (MB): " + " ".join(
        f"{kb / 1024:.0f}" for kb in sorted(rss.at_peak.values(), reverse=True)))

    tag = f"{args.workload}-{seed}"
    if tracer.enabled:
        metrics = dict(run.layer)
        self_s = tracer.self_times()
        for layer in LAYERS:
            metrics[f"{layer}.self_s"] = (self_s.get(layer, 0.0), "s")
        metrics.update(overhead(args.workload, seed, run.e2e))
        tracer.write(os.path.join(OUT, f"spans-{tag}.jsonl"))
        table = [f"{k:44s} {v:>14.6g} {u}" for k, (v, u) in sorted(metrics.items())]
        with open(os.path.join(OUT, f"layers-{tag}.txt"), "w") as f:
            f.write("\n".join(table) + "\n")
        log("per-layer metrics:\n" + "\n".join(table))
    else:
        metrics = {m: run.e2e[m] for m in E2E}
        with open(os.path.join(OUT, f"result-{tag}.json"), "w") as f:
            json.dump({m: v for m, (v, _) in metrics.items()}, f)
    log(f"prep (untimed) {run.prep_s:.2f}s, total {time.perf_counter() - T_START:.1f}s")
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))


if __name__ == "__main__":
    main()
