"""Run one benchmark workload and print its metrics as one JSON line.

    python3 perfbench/run.py --workload olap_seq --seed 1 --seconds 1 --trace 0

Run from the repository root: the program is imported from ``./sclera_spark``.
``--trace 0`` prints the end-to-end metrics; ``--trace 1`` wraps the
program's public functions (``spans.py``) and prints the per-layer
metrics instead, writing the raw spans and Spark job records to
``.perfbench/traces/<workload>-s<seed>.json``.

Every run works inside ``.perfbench/`` under the current directory:
inputs are cached in ``.perfbench/inputs``, and the run's own directory
(Spark local dirs, DDL warehouse, temp files, working directory) is
removed when the run ends.
"""

from __future__ import annotations

import argparse
import gc
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time
import traceback
import types

BENCH = os.path.dirname(os.path.abspath(__file__))


def _process_start() -> float:
    """Wall-clock time this process started, from /proc (clock ticks)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return time.time() - (uptime - start_ticks / os.sysconf("SC_CLK_TCK"))


T_PROCESS = _process_start()


# ---------------------------------------------------------------- process tree


def _children_map() -> dict[int, list[int]]:
    out: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        out.setdefault(ppid, []).append(int(d))
    return out


def descendants(pid: int) -> list[int]:
    kids = _children_map()
    out, todo = [], list(kids.get(pid, ()))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, ()))
    return out


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except (OSError, ValueError, IndexError):
        return 0


class RssSampler:
    """Peak summed resident memory of this process, the JVM and the Python
    workers, sampled from /proc every 250 ms (the process tree is re-read
    every 2 s, so the sampler holds the interpreter lock only briefly)."""

    def __init__(self):
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        me = os.getpid()
        tick = 0
        while not self._stop.is_set():
            if tick % 8 == 0:
                pids = [me, *descendants(me)]
            self.peak = max(self.peak, sum(_rss_bytes(p) for p in pids))
            tick += 1
            self._stop.wait(0.25)

    def start(self):
        self._thread.start()
        return self

    def stop(self):
        self._stop.set()
        self._thread.join(timeout=5)


# ---------------------------------------------------------------- environment


def fit_to_machine(root: str, run_dir: str) -> dict[str, str]:
    """Environment for the program and its JVM: Spark task slots from
    nproc, driver heap capped well below RAM, every scratch path in
    ``run_dir``, and the checkout on PYTHONPATH so Python workers import
    the package.

    Spark gets half the cores: a pandas-UDF task keeps a JVM task thread
    and a Python worker busy, and the JIT and GC threads and the driver's
    Python need cores too, so ``local[nproc]`` runs more busy threads than
    cores and its timings follow the scheduler. On 4 cores ``local[4]``
    was no faster on olap_seq and 20 % slower on table_rw's pass_s."""
    cpus = max(1, len(os.sched_getaffinity(0)) // 2)
    with open("/proc/meminfo") as f:
        mem_kb = int(f.readline().split()[1])
    heap = f"{min(2048, mem_kb // 4096)}m"
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": heap,
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        "PYTHONPATH": os.pathsep.join(
            [root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        # every JVM, the launcher's too: temp files in the run directory,
        # no /tmp/hsperfdata_* entry
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    })
    os.chdir(run_dir)  # derby.log, spark-warehouse/ and metastore_db/ land here
    return {
        "spark.local.dir": local,
        # the driver heap starts at its cap, so its size does not follow
        # each run's own GC history
        "spark.driver.extraJavaOptions": f"-Xms{heap}",
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
    }


def stop_spark(spark) -> None:
    """Stop the session, then the JVM, then wait for every process this
    run started to end."""
    from pyspark import SparkContext

    me = os.getpid()
    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None
    deadline = time.time() + 30
    while descendants(me) and time.time() < deadline:
        time.sleep(0.1)
    for p in descendants(me):
        try:
            os.kill(p, 9)
        except OSError:
            pass


# ---------------------------------------------------------------- run


class Latencies:
    """Statement latencies of the measured passes, keyed by the statement's
    place in its pass: the same place runs the same statement (with its own
    keys, in ``table_rw``) in every pass."""

    def __init__(self):
        self.by_stmt: dict[tuple[str, int], list[float]] = {}
        self.labels: dict[tuple[str, int], str] = {}

    def add(self, kind: str, i: int, label: str, dt: float) -> None:
        self.by_stmt.setdefault((kind, i), []).append(dt)
        self.labels.setdefault((kind, i), label)

    def medians(self, kind: str) -> list[float]:
        """Each statement's median latency over the measured passes."""
        return [statistics.median(v) for (k, _), v in self.by_stmt.items() if k == kind]


def run_pass(w, p, ctx, lat, counts):
    """One pass: every op in order, each timed alone. Returns the summed
    statement time of the pass. Both heaps are collected before the pass
    and Python's cycle collector is paused during it (as ``timeit`` does),
    so collector pauses land between passes, not inside a timed statement."""
    ctx.spark._jvm.System.gc()
    gc.collect()
    gc.disable()
    try:
        return _run_ops(w, p, ctx, lat, counts)
    finally:
        gc.enable()


def _run_ops(w, p, ctx, lat, counts):
    total = 0.0
    for i, op in enumerate(w.ops(p)):
        if op.before is not None:
            op.before()
        counts["attempted"] += 1
        t0 = time.perf_counter()
        try:
            if ctx.tracer is not None:
                with ctx.tracer.statement(len(ctx.tracer.statements), p, op.label):
                    res = op.fn()
            else:
                res = op.fn()
        except Exception:
            counts["failed"] += 1
            w.errors.append(f"op {i} of pass {p} failed: {traceback.format_exc(limit=3)}")
            continue
        dt = time.perf_counter() - t0
        total += dt
        lat.add(op.kind, i, op.label, dt)
        if op.after is not None:
            try:
                op.after(res)
            except Exception:  # a check that cannot run is a failed check
                w.errors.append(f"check of op {i}, pass {p}: {traceback.format_exc(limit=3)}")
    return total


def _steal(since=None):
    """Share of the machine's CPU time taken by the hypervisor for other
    guests since ``since`` (a /proc/stat sample; printed to stderr, as a
    run's timings rise with it); without ``since``, a fresh sample."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:9]]
    if since is None:
        return v
    d = [a - b for a, b in zip(v, since)]
    return d[7] / max(sum(d), 1)


def geomean(values) -> float:
    return math.exp(statistics.fmean(math.log(v) for v in values)) if values else 0.0


def pct(values, q) -> float:
    import numpy as np

    return float(np.percentile(values, q)) if values else 0.0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "sclera_spark", "engine.py")):
        print("perfbench: run from the repository root (no ./sclera_spark here)",
              file=sys.stderr)
        return 2
    sys.path[:0] = [root, BENCH]
    import gen
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    state = os.path.join(root, ".perfbench")
    run_dir = os.path.join(state, "runs", str(os.getpid()))
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    sampler = None
    spark = None
    w = None
    try:
        cls = WORKLOADS[args.workload]
        t_gen = time.time()
        inputs = {g: gen.ensure(os.path.join(state, "inputs"), args.seed, g) for g in cls.groups}
        gen_s = time.time() - t_gen

        conf = fit_to_machine(root, run_dir)
        sampler = RssSampler().start()
        from sclera_spark.engine import ScleraEngine
        from sclera_spark.session import build_session

        spark = build_session(app_name=f"perfbench-{args.workload}", extra_conf=conf,
                              shuffle_partitions=int(os.environ["SPARK_GRAFT_CPUS"]))
        spark.sparkContext.setLogLevel("ERROR")
        marks = {"session": time.time() - T_PROCESS}
        ctx = types.SimpleNamespace(
            spark=spark, engine=ScleraEngine(spark), seed=args.seed, inputs=inputs,
            tracer=None, run_dir=run_dir, tmp_dir=os.environ["TMPDIR"])
        w = cls(ctx)
        w.setup()
        marks["workload_setup"] = time.time() - T_PROCESS
        counts = {"attempted": 0, "failed": 0}
        run_pass(w, 0, ctx, Latencies(), counts)  # untimed warm-up pass
        w.after_pass(0)
        setup_s = time.time() - T_PROCESS - gen_s

        if args.trace:
            from spans import Tracer

            ctx.tracer = Tracer()
            ctx.tracer.install()
        lat = Latencies()
        passes = []
        steal0 = _steal()
        t0 = time.perf_counter()
        p = 1
        # a fixed number of passes first, so runs measure alike however fast
        # the machine is; then more passes while --seconds last
        while p <= w.min_passes or time.perf_counter() - t0 < args.seconds:
            passes.append(run_pass(w, p, ctx, lat, counts))
            w.after_pass(p)
            p += 1
        steal = _steal(steal0)
        t_checks = time.time()
        w.verify()
        peak_mb = sampler.peak / 2**20
        if args.trace:
            from spans import UNITS, per_layer, spark_figures

            ctx.tracer.unwrap_all()
            jobs = spark_figures(spark, ctx.tracer)
            metrics = per_layer(ctx.tracer, jobs, len(passes), w.per_layer_extra())
            out_metrics = {k: {"value": v, "unit": UNITS[k]} for k, v in sorted(metrics.items())}
            _write_trace(state, args, ctx.tracer, jobs, passes)
        else:
            out_metrics = {
                "setup_s": {"value": setup_s, "unit": "s"},
                "pass_s": {"value": statistics.median(passes), "unit": "s"},
                "read_geomean_s": {"value": geomean(lat.medians("read")), "unit": "s"},
                "read_p90_s": {"value": pct(lat.medians("read"), 90), "unit": "s"},
                "write_geomean_s": {"value": geomean(lat.medians("write")), "unit": "s"},
                "stored_bytes_per_live_byte": {"value": w.stored_ratio, "unit": "ratio"},
                "peak_rss_mb": {"value": peak_mb, "unit": "MB"},
            }
        for e in w.errors[:20]:
            print(f"perfbench: {e}", file=sys.stderr)
        for (kind, i), v in lat.by_stmt.items():
            print(f"perfbench: '{kind} {i} {lat.labels[kind, i][:40]}': "
                  f"{[round(x, 3) for x in v]}", file=sys.stderr)
        print(f"perfbench: inputs {gen_s:.1f} s, setup {setup_s:.1f} s, "
              f"passes {[round(x, 2) for x in passes]} s, final checks "
              f"{time.time() - t_checks:.1f} s, marks {marks}, cpu steal while measuring "
              f"{steal:.1%}", file=sys.stderr)
        result = {
            "correct": not [e for e in w.errors if not e.startswith("op ")],
            "attempted": counts["attempted"],
            "failed": counts["failed"],
            "metrics": out_metrics,
        }
    except Exception:
        traceback.print_exc()
        result = None
    finally:
        t_down = time.time()
        if w is not None:
            try:
                w.teardown()
            except Exception:
                traceback.print_exc()
        if spark is not None:
            stop_spark(spark)
        if sampler is not None:
            sampler.stop()
        os.chdir(root)
        shutil.rmtree(run_dir, ignore_errors=True)
        print(f"perfbench: teardown {time.time() - t_down:.1f} s, "
              f"run {time.time() - T_PROCESS:.1f} s", file=sys.stderr)
    if result is None:
        return 1
    print(json.dumps(result))
    return 0


def _write_trace(state, args, tracer, jobs, passes) -> None:
    d = os.path.join(state, "traces")
    os.makedirs(d, exist_ok=True)
    with open(os.path.join(d, f"{args.workload}-s{args.seed}.json"), "w") as f:
        json.dump({
            "spans": [[n, t0, t1, parent, stmt] for n, t0, t1, parent, stmt in tracer.spans],
            "statements": tracer.statements,
            "jobs": jobs,
            "passes": passes,
        }, f)


if __name__ == "__main__":
    # one string-hash order in every run (this process and the Python
    # workers), so dict and set iteration in the program does not differ
    # from run to run; exec keeps the pid and so the process start time
    if os.environ.get("PYTHONHASHSEED") != "0":
        os.environ["PYTHONHASHSEED"] = "0"
        os.execv(sys.executable, [sys.executable, *sys.argv])
    sys.exit(main())
