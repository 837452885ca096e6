"""Benchmark entry point.

    python3 perfbench/run.py --workload archive --seed 1 --seconds 20 --trace 0

Runs one workload from the root of a source checkout against the
`clp_spark` package found there, on Spark `local[N]` with N the host's
core count. With `--trace 0` the last stdout line is a JSON object with
every end-to-end metric of BENCHMARK.json; with `--trace 1` the run also
writes a Spark event log and times spans around its own calls, and the
last line carries every per-layer metric instead. Everything the run
writes goes under `.perfbench_work/` in the checkout and is removed at
the end. A checkout without `clp_spark` makes the run exit with code 2
and print no result.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# the package and the checkout's program, never a copy installed elsewhere
sys.path[0:0] = [ROOT]

# rows of the pages fixture; chosen so that every run of either workload,
# with its Spark start and set-up, fits the benchmark's time budget
PAGES = 20_000


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _descendants(pid: int) -> list[int]:
    """Every live process below `pid` (the Python workers under the JVM)."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def _stop_spark(spark) -> None:
    """Stop the session, then end the JVM and every process under it and
    wait until they are gone."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None) if gateway is not None else None
    spark.stop()
    if proc is None:
        return
    below = _descendants(proc.pid)
    gateway.shutdown()
    proc.terminate()
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=10)
    deadline = time.time() + 20
    while time.time() < deadline and any(_alive(p) for p in below):
        time.sleep(0.1)
    for p in below:
        if _alive(p):
            try:
                os.kill(p, signal.SIGKILL)
            except OSError:
                pass
    SparkContext._gateway = None
    SparkContext._jvm = None


def main(argv=None) -> int:
    args = _args(argv)
    try:
        import clp_spark.session  # noqa: F401 - the program under test
    except ImportError as e:
        print(f"perfbench: no clp_spark package in {ROOT}: {e}", file=sys.stderr)
        return 2
    from perfbench import host, spans, workloads

    spec = _spec()
    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    t_start = time.time()
    watch = host.HostWatch()
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    # Spark workers, the JVM and Python temp files all stay in the checkout
    os.environ.update(
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=tmp,
        PYTHONPATH=os.pathsep.join([ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]),
    )
    cores = host.nproc()
    mem = host.driver_memory()
    conf = {
        "spark.driver.memory": mem,
        "spark.local.dir": tmp,
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    event_dir = os.path.join(work, "events")
    if args.trace:
        os.makedirs(event_dir)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + event_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })

    from clp_spark.session import get_spark

    spark = get_spark("perfbench", cores=cores, extra_conf=conf)
    tracer = spans.Tracer(enabled=bool(args.trace))
    ctx = workloads.Ctx(spark, work, args.seed, args.seconds, PAGES, tracer, time.time() - t_start)
    try:
        run = workloads.WORKLOADS[args.workload](ctx)
    finally:
        _stop_spark(spark)
    peak = host.peak_rss_mb()

    e2e, tail_info = run.end_to_end()
    e2e["driver_peak_rss_mb"] = peak
    if args.trace:
        layer = workloads.layer_metrics(
            run, tracer, spans.find_event_log(event_dir), [m["name"] for m in spec["per_layer"]]
        )
        layer["trace.ingest_docs_per_s"] = e2e["ingest_docs_per_s"]
        layer["trace.query_p50_s"] = e2e["query_p50_s"]
        units = {m["name"]: m["unit"] for m in spec["per_layer"]}
        metrics = {k: {"value": float(v), "unit": units[k]} for k, v in layer.items()}
    else:
        metrics = {
            m["name"]: {"value": float(e2e[m["name"]]), "unit": m["unit"]}
            for m in spec["end_to_end"]
        }
    shutil.rmtree(work, ignore_errors=True)
    try:
        os.rmdir(os.path.dirname(work))
    except OSError:
        pass  # another run's directory is still there

    failed = len(run.failures)
    for f in run.failures:
        print(f"perfbench: FAILED {f}", file=sys.stderr)
    context = watch.report(cores, mem)
    context.update(tail_info)
    context["failed_frac"] = failed / max(run.attempted, 1)
    print("perfbench host " + json.dumps(context))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": max(run.attempted, 1),
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
