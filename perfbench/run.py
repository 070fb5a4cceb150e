"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload incremental --seed 1 --seconds 12 --trace 0

Run from the repository root (the package is imported from the parent of
this directory). The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end set, timed with tracing off; with ``--trace 1``
they are the per-layer set, and the spans and the per-operation layer table
are written under ``.perfbench_out/``. An operation's cost is the CPU
time (user + system) that this process, its JVM and the JVM's Python
workers spend in it; its wall-clock latency is printed beside it. Lines
before it, starting with ``#``, repeat each metric with its unit and
sample count. All temporary state lives under ``.perfbench_tmp/`` and is
removed on exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOAD_NAMES = ("incremental", "curate")


def parse_args(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def _descendants(pid: int) -> set[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = set(), [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.add(c)
            todo.append(c)
    return out


def tree_cpu_s() -> float:
    """CPU seconds (user + system) used so far by this process and every
    process under it: the JVM and its Python workers. Children that have
    exited count through their parent's ``cutime``/``cstime``."""
    ticks = 0
    for pid in {os.getpid()} | _descendants(os.getpid()):
        try:
            with open(f"/proc/{pid}/stat") as fh:
                f = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        ticks += int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
    return ticks / os.sysconf("SC_CLK_TCK")


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait until the JVM
    and every Python worker under it have exited."""
    from pyspark import SparkContext

    procs = _descendants(os.getpid())
    gateway = SparkContext._gateway
    jvm = getattr(gateway, "proc", None)
    try:
        spark.stop()
    finally:
        if gateway is not None:
            gateway.shutdown()
        if jvm is not None:
            jvm.stdin.close()  # the gateway JVM exits at end of its stdin
            try:
                jvm.wait(timeout=60)
            except subprocess.TimeoutExpired:
                jvm.kill()
                jvm.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
        deadline = time.monotonic() + 30
        while any(_alive(p) for p in procs):
            if time.monotonic() > deadline:
                for p in procs:
                    if _alive(p):
                        os.kill(p, signal.SIGKILL)
                deadline = float("inf")
            time.sleep(0.05)


def start_spark(tmp: str):
    from isp_trace_parser_spark.session import get_spark

    # the package's own defaults, whatever the caller's environment says
    for var in ("SPARK_GRAFT_SHUFFLE", "SPARK_GRAFT_MAX_PARTITION_BYTES", "SPARK_GRAFT_CPUS"):
        os.environ.pop(var, None)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark-local")
    cpus = len(os.sched_getaffinity(0))
    spark = get_spark(
        app_name="perfbench",
        master=f"local[{cpus}]",
        extra_conf={
            "spark.driver.memory": "2g",
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.sql.warehouse.dir": os.path.join(tmp, "spark-warehouse"),
            "spark.ui.showConsoleProgress": "false",
            # keep every job and stage for the traced run's status-store read
            "spark.ui.retainedJobs": "1000000",
            "spark.ui.retainedStages": "1000000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def run(args: argparse.Namespace, tmp: str) -> dict:
    # bench.py's fixed-work CPU probe: its time moves only with the host
    from bench import _calibrate

    trace_on = bool(args.trace)
    layer: dict[str, float] = {}
    phases: dict[str, float] = {}
    if trace_on:
        layer["host.calib_before_s"] = _calibrate()
    t_setup = time.perf_counter()

    from pyspark import SparkContext

    import layers
    from spans import Tracer, group_costs, instrumented, read_status_store
    from stats import median
    from workloads import WORKLOADS, Context

    t0 = time.perf_counter()
    spark = start_spark(tmp)
    layer["session.start_s"] = time.perf_counter() - t0
    jvm_pid = SparkContext._gateway.proc.pid
    try:
        tracer = Tracer(spark.sparkContext, f"{args.workload}-{args.seed}-{os.getpid()}", trace_on)
        wl = WORKLOADS[args.workload](Context(spark, tmp, args.seed, tracer))
        latencies: list[float] = []
        cpu: list[float] = []
        failed: set[int] = set()
        n = 0
        with instrumented(tracer, wl.cat):
            t0 = time.perf_counter()
            with tracer.span("setup"):
                wl.setup()
            layer["session.warmup_s"] = time.perf_counter() - t0
            setup_s = time.perf_counter() - t_setup
            phases["setup"] = setup_s
            t_loop = time.perf_counter()
            while wl.has_op(n):
                c0 = tree_cpu_s()  # outside the span and the wall clock
                with tracer.span("op"):
                    t0 = time.perf_counter()
                    try:
                        wl.op(n)
                    except Exception:
                        traceback.print_exc()
                        failed.add(n)
                    latencies.append(time.perf_counter() - t0)
                cpu.append(tree_cpu_s() - c0)
                try:
                    wl.settle(n)
                except Exception:
                    traceback.print_exc()
                    failed.add(n)
                n += 1
                # stop at the operation boundary nearest the deadline: the
                # next one starts only if at least half of a typical
                # operation still fits, so the window averages --seconds
                left = args.seconds - (time.perf_counter() - t_loop)
                if left < median(latencies) / 2:
                    break
        phases["loop"] = time.perf_counter() - t_loop
        t0 = time.perf_counter()
        try:
            failed |= wl.check(n)
        except Exception:
            traceback.print_exc()
            failed = set(range(n))
        extras = wl.extras()
        phases["check"] = time.perf_counter() - t0
        rss = peak_rss_mb(os.getpid()) + peak_rss_mb(jvm_pid)

        if trace_on:
            jobs, stages = read_status_store(spark.sparkContext)
            metrics, rows = layers.derive(tracer.spans, group_costs(jobs, stages),
                                          latencies, cpu, extras)
            metrics.update(layer)
            metrics["session.peak_rss_mb"] = rss
            out_dir = os.path.join(ROOT, ".perfbench_out")
            os.makedirs(out_dir, exist_ok=True)
            stem = os.path.join(out_dir, f"{args.workload}-seed{args.seed}")
            tracer.dump(stem + "-spans.json")
            with open(stem + "-layers.json", "w") as fh:
                json.dump({"metrics": metrics, "ops": rows}, fh, indent=1)
    finally:
        t0 = time.perf_counter()
        stop_spark(spark)
        phases["stop"] = time.perf_counter() - t0
    if trace_on:
        metrics["host.calib_after_s"] = _calibrate()
        units = dict(layers.PER_LAYER)
        counts = {name: n for name in units}
    else:
        metrics = {"op_cpu_p50_s": median(cpu), "setup_s": setup_s}
        units = {"op_cpu_p50_s": "s", "setup_s": "s"}
        counts = {"op_cpu_p50_s": len(cpu), "setup_s": 1}

    lines = [f"# {args.workload} seed={args.seed} trace={args.trace}: {n} {wl.op_label} "
             f"operations, {len(failed)} failed, error_rate {len(failed) / max(n, 1):.4f} ratio"]
    lines.append("# run phases: " + ", ".join(f"{k} {v:.1f} s" for k, v in phases.items()))
    lines += [f"# {k} = {v:.6g} {units[k]} (n={counts[k]})" for k, v in metrics.items()]
    if not trace_on:
        lines.append(f"# op_p50_s = {median(latencies):.6g} s (n={len(latencies)}), wall")
        lines += [f"# {k} = {v:.6g} {u} (n={c})" for k, v, u, c in wl.summary(latencies)]
        lines.append("# per operation: wall " + " ".join(f"{x:.3f}" for x in latencies)
                     + " s, cpu " + " ".join(f"{x:.2f}" for x in cpu) + " s")
    return {
        "lines": lines,
        "result": {
            "correct": not failed and n > 0,
            "attempted": n,
            "failed": len(failed),
            "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
        },
    }


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "isp_trace_parser_spark", "__init__.py")):
        print(f"perfbench: no isp_trace_parser_spark package under {ROOT}; "
              "run from a full checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    tmp_root = os.path.join(ROOT, ".perfbench_tmp")
    tmp = os.path.join(tmp_root, f"{args.workload}-{os.getpid()}")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None

    def _terminate(signum, frame):
        raise SystemExit(128 + signum)

    signal.signal(signal.SIGTERM, _terminate)
    try:
        out = run(args, tmp)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            os.rmdir(tmp_root)
        except OSError:
            pass
    print("\n".join(out["lines"]))
    print(json.dumps(out["result"]), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
