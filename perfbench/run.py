"""webr benchmark: one command, one workload per run.

    python3 perfbench/run.py --workload er_cold --seed 42 --seconds 20 --trace 0

Run from the root of a checkout. The workload's input is generated from
``--seed`` (untimed), the workload is set up (``setup_s``), then ops run
back to back for ``--seconds`` seconds. Every op's output is checked.
The last line of stdout is the result:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones in BENCHMARK.json,
measured with tracing off. With ``--trace 1`` they are the per-layer ones:
every other op is traced (spans, Spark job groups, status-store reads) and
the ops between them give the tracing overhead. The line before the result
holds the run's environment, sizes and raw op walls; a traced run also
writes its spans and self-time table under ``perfbench/_results/``.
See perfbench/README.md for the metric definitions.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
import traceback
from contextlib import nullcontext

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOAD_NAMES = ("er_cold", "record_query")
# no op starts later than this after the process started. A run set up in
# 50 s times its 20 s of ops well before it; on a host that steals CPU
# (set-up alone took 60-90 s on a shared 4-vCPU VM) it caps the run near
# 100 s, which keeps a full comparison within its time limit
LAST_OP_START_S = 90
T_PROCESS = time.monotonic()


def tail(samples: list[float]) -> tuple[float, float]:
    """(value, percentile) of the highest percentile that has at least ten
    samples beyond it, but never below p75. From forty samples on that is
    the order statistic with ten beyond it; below that it is p75
    (interpolated, ``statistics.quantiles`` inclusive), since a maximum of
    a few samples is one outlier and not a steady figure."""
    s = sorted(samples)
    n = len(s)
    if n >= 40:
        return s[n - 11], 100.0 * (n - 10) / n
    if n == 1:
        return s[0], 75.0
    return statistics.quantiles(s, n=4, method="inclusive")[2], 75.0


def git_commit(root: str) -> str:
    head = os.path.join(root, ".git", "HEAD")
    try:
        with open(head) as f:
            ref = f.read().strip()
        if not ref.startswith("ref: "):
            return ref
        with open(os.path.join(root, ".git", ref[5:])) as f:
            return f.read().strip()
    except OSError:
        return "unknown"


def isolate_env(work: str) -> dict:
    """Run on the program's defaults, with every scratch file inside the
    checkout. Returns the WEBR_* variables that were unset."""
    removed = {k: os.environ.pop(k) for k in list(os.environ)
               if k.startswith("WEBR_")}
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData")
    tempfile.tempdir = tmp
    return removed


def environment(spark, seed: int, removed: dict, sizes: dict) -> dict:
    import pyarrow
    import pyspark
    from webr import cluster, engine
    conf = spark.sparkContext.getConf()
    with open("/proc/meminfo") as f:
        mem_kb = int(f.readline().split()[1])
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "master": spark.sparkContext.master,
        "host_mem_gib": round(mem_kb / 2 ** 20, 1),
        "spark": pyspark.__version__, "pyarrow": pyarrow.__version__,
        "python": platform.python_version(), "git_commit": git_commit(ROOT),
        "seed": seed, "corpus": sizes,
        "spark.driver.memory": conf.get("spark.driver.memory"),
        "webr_defaults": {
            "WEBR_SHUFFLE_PARTITIONS":
                spark.conf.get("spark.sql.shuffle.partitions"),
            "WEBR_DRIVER_MEM": conf.get("spark.driver.memory"),
            "WEBR_OVERLAP_STAGES": "1",
            "WEBR_PAIR_SCORE_GROUPS": engine.PAIR_SCORE_GROUPS,
            "WEBR_VOCAB_BROADCAST_MAX": engine.VOCAB_BROADCAST_MAX,
            "WEBR_CC_FINAL_ROWS_MAX": cluster.CC_FINAL_ROWS_MAX},
        "webr_env_unset": sorted(removed),
    }


def shutdown(spark) -> None:
    """Stop Spark, end the JVM it launched and wait for every process
    this run started (JVM, Python workers) to exit."""
    from pyspark import SparkContext

    from procstat import alive, descendants
    started = descendants()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    try:
        spark.stop()
    finally:
        if gw is not None:
            gw.shutdown()
            SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        deadline = time.monotonic() + 20
        while any(map(alive, started)) and time.monotonic() < deadline:
            time.sleep(0.2)
        for pid in filter(alive, started):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass


class Loop:
    """Ops run back to back, and a next op starts only while it is
    expected, at the wall of the op before it, to end within ``seconds``
    of summed op wall (the output checks between ops do not count); at
    least one op runs. In a traced run, traced and untraced ops
    alternate, the seed picking which comes first so that op order does
    not bias the overhead, and the loop runs at least one of each."""

    def __init__(self, wl, meter, tracer, status, seed: int):
        self.wl, self.meter = wl, meter
        self.tracer, self.status, self.seed = tracer, status, seed
        self.walls, self.traced, self.untraced = [], [], []
        self.layers, self.details = [], []
        self.attempted = self.failed = 0
        self.measured = self.last = 0.0

    def step(self) -> None:
        i = self.attempted
        tracer = self.tracer if (self.tracer and (i + self.seed) % 2 == 0) \
            else None
        self.attempted += 1
        t = time.perf_counter()
        try:
            try:
                with self.meter.op():
                    wall, finish = self.wl.op(i, tracer, self.status)
            finally:
                self.last = time.perf_counter() - t
                self.measured += self.last
            ok, detail, layers = finish()
        except Exception:  # the op failed; count it and go on
            traceback.print_exc()
            self.failed += 1
            self.details.append({"error": True})
            return
        self.failed += not ok
        self.details.append({"wall_s": wall, "ok": ok, **detail})
        if ok:
            self.walls.append(wall)
            (self.traced if tracer else self.untraced).append(wall)
            if layers:
                self.layers.append(layers)

    def run(self, seconds: int) -> None:
        while True:
            self.step()
            done = self.measured + self.last > seconds and (
                not self.tracer or (self.traced and self.untraced))
            if done or time.monotonic() - T_PROCESS > LAST_OP_START_S:
                return


def run(args, spec: dict, work: str) -> dict:
    removed = isolate_env(work)
    from procstat import TreeMeter
    from spans import SparkStatus, Tracer, layer_table
    from webr.session import get_spark
    from workloads import Corpus, WORKLOADS

    corpus = Corpus(args.seed)                      # input: untimed
    corpus.write(work)
    tracer = Tracer() if args.trace else None
    with TreeMeter() as meter:
        t0 = time.perf_counter()
        with tracer.span("session.get_spark") if tracer else nullcontext():
            spark = get_spark(master=f"local[{len(os.sched_getaffinity(0))}]")
        session_s = time.perf_counter() - t0
        try:
            spark.sparkContext.setLogLevel("ERROR")
            wl = WORKLOADS[args.workload](spark, corpus, work)
            t1 = time.perf_counter()
            wl.setup()
            setup_s = session_s + time.perf_counter() - t1
            status = None
            if tracer:
                tracer.sc = spark.sparkContext
                status = SparkStatus(spark)
            loop = Loop(wl, meter, tracer, status, args.seed)
            loop.run(args.seconds)
            run_ok = wl.run_ok()
            env = environment(spark, args.seed, removed, wl.sizes)
        finally:
            shutdown(spark)
    if not loop.walls:
        raise RuntimeError("no op passed its check")
    p50 = statistics.median(loop.walls)
    tail_s, tail_pct = tail(loop.walls)
    record = {
        "workload": args.workload, "trace": args.trace, "env": env,
        "setup_s": setup_s, "session_start_s": session_s,
        "ops": loop.details, "op_p50_s": p50,
        "op_tail_percentile": tail_pct, "op_samples": len(loop.walls),
        "failed_share": loop.failed / loop.attempted,
        "peak_tree_mb": meter.peak_mb,
        "checks": wl.summary(),
    }
    if tracer:
        overhead = (statistics.median(loop.traced)
                    - statistics.median(loop.untraced)
                    if loop.traced and loop.untraced else 0.0)
        metrics = per_layer(spec, loop.layers, session_s, overhead)
        record["layers"] = layer_table(tracer.spans)
        os.makedirs(os.path.join(HERE, "_results"), exist_ok=True)
        tracer.dump(os.path.join(
            HERE, "_results", f"trace-{args.workload}-seed{args.seed}.json"),
            record)
        for row in record["layers"]:
            print(f"{row['span']:<22} n={row['n']:<3} "
                  f"wall={row['wall_s']:8.3f}s self={row['self_s']:8.3f}s"
                  f"{'  concurrent' if row['concurrent'] else ''}",
                  file=sys.stderr)
    else:
        metrics = {"setup_s": setup_s, "op_p50_s": p50, "op_tail_s": tail_s,
                   "pages_per_s": wl.input_pages() / p50,
                   "cpu_s_per_op": meter.cpu_s / loop.attempted,
                   "py_peak_rss_mb": meter.peak_py_mb}
    units = {m["name"]: m["unit"]
             for m in spec["per_layer" if args.trace else "end_to_end"]}
    if set(metrics) != set(units):
        raise RuntimeError(f"metrics differ from BENCHMARK.json: "
                           f"{sorted(set(metrics) ^ set(units))}")
    print(json.dumps(record, default=str))
    return {"correct": run_ok and loop.failed == 0,
            "attempted": loop.attempted, "failed": loop.failed,
            "metrics": {k: {"value": float(v), "unit": units[k]}
                        for k, v in metrics.items()}}


def per_layer(spec: dict, layers: list[dict], session_s: float,
              overhead_s: float) -> dict:
    """Median over traced ops of each layer metric; 0 for layers the
    workload does not run."""
    out = {m["name"]: 0.0 for m in spec["per_layer"]}
    for name in out:
        layer, _, metric = name.partition(".")
        vals = [op[layer][metric] for op in layers
                if metric in op.get(layer, {})]
        if vals:
            out[name] = statistics.median(vals)
    out["session.start_s"] = session_s
    out["trace.overhead_s"] = overhead_s
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    try:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            spec = json.load(f)
    except (OSError, ValueError) as e:
        print(f"perfbench: cannot read BENCHMARK.json: {e}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    try:
        import webr.engine  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the webr package is not in this checkout: {e}",
              file=sys.stderr)
        return 2
    work = os.path.join(HERE, "_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(work)
    try:
        result = run(args, spec, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
