"""Run one benchmark workload against the engine in this checkout.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 20 --trace 0

Prints each metric as ``name value unit``, then a run record, then, as
the last line, one JSON object: {"correct", "attempted", "failed",
"metrics"}. ``--trace 0`` reports the end-to-end metrics, ``--trace 1``
the per-layer ones (with a per-layer table). Exits non-zero when any
operation raised or failed verification, or when the engine is missing.
All scratch data lives under ``.perfbench_work/`` in the checkout and is
removed on exit; every process the run starts is stopped before it exits.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import signal
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# run as a script, this directory heads sys.path; import the package
# from the checkout root instead so module names cannot shadow others
if sys.path and os.path.abspath(sys.path[0]) == os.path.dirname(os.path.abspath(__file__)):
    sys.path[0] = ROOT
HELD_OUT_SEED = 7919


def _parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=["serve", "near_dup"])
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=20.0)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--smoke", action="store_true", help="tiny inputs, for the benchmark's own test")
    return p.parse_args(argv)


def _loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def _git_commit() -> str:
    """HEAD of the checkout when it is a git work tree, else 'unknown'."""
    head = os.path.join(ROOT, ".git", "HEAD")
    try:
        with open(head) as f:
            ref = f.read().strip()
        if ref.startswith("ref: "):
            with open(os.path.join(ROOT, ".git", ref[5:])) as f:
                return f.read().strip()
        return ref
    except OSError:
        return "unknown"


def _proc_table() -> dict[int, tuple[int, str]]:
    """pid -> (ppid, comm) for every process visible in /proc."""
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        comm = stat[stat.index("(") + 1 : stat.rindex(")")]
        out[int(d)] = (int(stat[stat.rindex(")") + 2 :].split()[1]), comm)
    return out


def _descendants(pid: int) -> list[int]:
    table = _proc_table()
    found, frontier = [], [pid]
    while frontier:
        parent = frontier.pop()
        kids = [p for p, (pp, _) in table.items() if pp == parent]
        found += kids
        frontier += kids
    return found


def _peak_rss_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
    except OSError:
        pass
    return 0.0


def _spark_procs_rss(jvm_pid: int | None) -> dict:
    if jvm_pid is None:
        return {}
    workers = [_peak_rss_mb(p) for p in _descendants(jvm_pid)]
    return {"jvm": _peak_rss_mb(jvm_pid), "workers": max(workers, default=0.0)}


def _stop_spark() -> None:
    """Stop the session, then the gateway JVM, and wait until it and every
    Python worker it forked have exited."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession()
    if spark is not None:
        spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    children = _descendants(os.getpid())
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway server exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 30
    for pid in children:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            try:
                os.waitpid(pid, os.WNOHANG)
            except ChildProcessError:
                pass
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass


def main(argv=None) -> int:
    args = _parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "fulltextsearch_spark", "__init__.py")):
        print(f"perfbench: no fulltextsearch_spark package under {ROOT}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    try:
        return _run(args, work)
    finally:
        try:
            if "pyspark" in sys.modules:
                _stop_spark()
        finally:
            shutil.rmtree(work, ignore_errors=True)
            try:
                os.rmdir(os.path.dirname(work))
            except OSError:
                pass


def _run(args, work: str) -> int:
    import pyspark
    from fulltextsearch_spark.session import get_spark
    from fulltextsearch_spark.sources import index_io

    from perfbench import metrics as M
    from perfbench import workloads as W
    from perfbench.spans import Tracer

    cores = len(os.sched_getaffinity(0))
    load_before = _loadavg()
    wl = W.WORKLOADS[args.workload](W.SMOKE if args.smoke else W.FULL, args.seed, work)
    tmp = os.path.join(work, "tmp")
    conf = {
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    # set up three times; the first launches the JVM, the others find the
    # session running (a session restart respawns every Python worker,
    # which would double a run's set-up cost)
    setups = []
    for _ in range(3):
        t = time.perf_counter()
        spark = get_spark("perfbench", cores=cores, extra_conf=conf)
        spark.sparkContext.setLogLevel("ERROR")
        wl.materialise()
        wl.warm_up(spark)
        setups.append(time.perf_counter() - t)

    out = W.Outcome()
    tr = Tracer(spark, enabled=bool(args.trace))
    real_assign = index_io.assign_dense_ids_with_counts
    if args.trace:  # outside-in span around the build's call into sources.ids

        def traced_assign(*a, **kw):
            with tr.span("ids"):
                return real_assign(*a, **kw)

        index_io.assign_dense_ids_with_counts = traced_assign
    t0 = time.perf_counter()
    ran = W.guarded(out, f"{wl.name} workload", wl.run, spark, tr, args.seconds, out)
    out.timed_s = time.perf_counter() - t0
    index_io.assign_dense_ids_with_counts = real_assign
    peak_rss_mb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024
    from pyspark import SparkContext

    jvm_pid = getattr(getattr(SparkContext._gateway, "proc", None), "pid", None)
    procs = _spark_procs_rss(jvm_pid)
    if ran and args.trace:
        W.guarded(out, "trace extras", wl.trace_extras, spark, tr, out)
    if ran:
        W.guarded(out, "verification", wl.verify, out)
    tr.harvest()

    if args.trace:
        values = M.per_layer(wl, tr, out, cores, procs)
        units = M.PER_LAYER
    else:
        values = M.end_to_end(wl, tr, setups, peak_rss_mb)
        units = M.END_TO_END
    print(M.span_table(tr))
    width = max(map(len, units))
    for name, unit in units.items():
        print(f"{name:<{width}}  {values[name]:>14.6g}  {unit}")
    for msg in out.failures:
        print(f"FAILED: {msg}", file=sys.stderr)
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "held_out_seed": HELD_OUT_SEED,
        "seconds": args.seconds,
        "trace": args.trace,
        "smoke": args.smoke,
        "nproc": cores,
        "loadavg_before": load_before,
        "loadavg_after": _loadavg(),
        "git_commit": _git_commit(),
        "python": sys.version.split()[0],
        "pyspark": pyspark.__version__,
        "java": spark._jvm.java.lang.System.getProperty("java.version"),
        "spark_conf": dict(sorted(spark.sparkContext.getConf().getAll())),
        "setup_samples_s": setups,
        "op_samples_s": [
            [s.attrs.get("cls", s.name), round(s.wall, 4)] for s in M.op_spans(wl, tr)
        ],
        "timed_s": out.timed_s,
    }
    print("run record: " + json.dumps(record, sort_keys=True))
    correct = ran and not out.failures
    result = {
        "correct": correct,
        "attempted": max(out.attempted, 1),
        "failed": len(out.failures),
        "metrics": {n: {"value": float(values[n]), "unit": u} for n, u in units.items()},
    }
    print(json.dumps(result), flush=True)
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
