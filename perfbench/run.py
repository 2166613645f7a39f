"""Benchmark entry point: one workload, one seed, one closed-loop run.

    python3 perfbench/run.py --workload tpch_power --seed 1 --seconds 10 --trace 0

Run from the repository root. The run generates its inputs from
``--seed`` under ``.bench_run/``, starts a ``local[N]`` Spark session
(N = min(4, usable CPUs)), builds what the workload needs, warms up, then
issues operations one at a time for ``--seconds`` seconds (a workload
whose operations come in passes or cycles finishes the one it is in). Every result is
checked after the timed loop. The last line of standard output is the
result: with ``--trace 0`` the end-to-end metrics, with ``--trace 1`` the
per-layer metrics (read-only operations then run twice, traced and
untraced in alternating order, and ``trace.overhead_s`` is the median
difference). The line before it records the environment, and
``.bench_out/`` keeps each run's per-operation record and, when traced,
its spans.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import platform
import shutil
import signal
import statistics
import sys
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
PACKAGE = ROOT / "distributed_query_engine_spark"

MAX_CPUS = 4
DRIVER_MEM = "1g"

END_TO_END = {
    "setup_s": "s",
    "latency_p50_s": "s",
    "latency_tail_s": "s",
    "throughput_ops_per_s": "1/s",
    "peak_rss_mb": "MB",
}

PER_LAYER = {
    "session.start_s": "s",
    "catalog.read_calls": "count",
    "catalog.read_s": "s",
    "plans.build_s": "s",
    "plans.exec_s": "s",
    "plans.jobs": "count",
    "plans.stages": "count",
    "plans.tasks": "count",
    "operators.similarity.build_s": "s",
    "operators.similarity.search_s": "s",
    "operators.similarity.search_jobs": "count",
    "operators.similarity.append_s": "s",
    "operators.similarity.append_jobs": "count",
    "operators.similarity.recall_at_5": "ratio",
    "operators.sparse.build_s": "s",
    "operators.sparse.tokenize_s": "s",
    "operators.sparse.search_s": "s",
    "operators.sparse.search_jobs": "count",
    "operators.sparse.append_s": "s",
    "federation.scan_s": "s",
    "federation.fetch_s": "s",
    "federation.jobs": "count",
    "federation.rows_returned": "count",
    "trace.overhead_s": "s",
}

# How each per-layer metric derives from the spans of the traced run:
#   ("time", spans): median over ops of the summed span time in the op
#   ("count", spans, field): mean of the field over ops that entered the spans
#   ("calls", spans): mean number of such spans per op, over all ops
#   ("setup", spans): summed span time outside the timed loop
# session.start_s, recall_at_5 and trace.overhead_s are computed directly.
_LAYER_RULES = {
    "catalog.read_calls": ("calls", ["catalog.read"]),
    "catalog.read_s": ("time", ["catalog.read"]),
    "plans.build_s": ("time", ["plans.build"]),
    "plans.exec_s": ("time", ["plans.exec"]),
    "plans.jobs": ("count", ["plans.build", "plans.exec"], "jobs"),
    "plans.stages": ("count", ["plans.build", "plans.exec"], "stages"),
    "plans.tasks": ("count", ["plans.build", "plans.exec"], "tasks"),
    "operators.similarity.build_s": ("setup", ["operators.similarity.build"]),
    "operators.similarity.search_s": ("time", ["operators.similarity.search"]),
    "operators.similarity.search_jobs": ("count", ["operators.similarity.search"], "jobs"),
    "operators.similarity.append_s": ("time", ["operators.similarity.append"]),
    "operators.similarity.append_jobs": ("count", ["operators.similarity.append"], "jobs"),
    "operators.sparse.build_s": ("setup", ["operators.sparse.build"]),
    "operators.sparse.tokenize_s": ("time", ["operators.sparse.tokenize"]),
    "operators.sparse.search_s": ("time", ["operators.sparse.search"]),
    "operators.sparse.search_jobs": (
        "count", ["operators.sparse.tokenize", "operators.sparse.search"], "jobs"),
    "operators.sparse.append_s": ("time", ["operators.sparse.append"]),
    "federation.scan_s": ("time", ["federation.scan"]),
    "federation.fetch_s": ("time", ["federation.fetch"]),
    "federation.jobs": ("count", ["federation.scan", "federation.fetch"], "jobs"),
    "federation.rows_returned": ("count", ["federation.fetch"], "rows"),
}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if args.seconds <= 0:
        p.error("--seconds must be positive")
    return args


def percentile(values: list[float], pct: float) -> float:
    """Nearest-rank percentile."""
    s = sorted(values)
    rank = math.ceil(pct * len(s) - 1e-9)
    return s[min(max(rank, 1), len(s)) - 1]


def pin_environment(run_dir: Path) -> dict:
    cpus = min(MAX_CPUS, len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_LOCAL_DIRS"] = str(run_dir / "spark-local")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ.pop("DQE_STREAM_STATE_STORE", None)
    return {
        "SPARK_GRAFT_CPUS": cpus,
        "SPARK_LOCAL_DIRS": os.environ["SPARK_LOCAL_DIRS"],
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "nproc": os.cpu_count(),
        "usable_cpus": len(os.sched_getaffinity(0)),
        "loadavg_start": os.getloadavg(),
        "python": platform.python_version(),
    }


def start_spark(run_dir: Path):
    from distributed_query_engine_spark.session import get_spark

    return get_spark(
        app_name="perfbench",
        extra_conf={
            # the progress bar writes carriage returns into the output
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": str(run_dir / "warehouse"),
            # a heap committed and touched at start keeps the JVM's
            # resident size from depending on when G1 chose to grow it
            "spark.driver.extraJavaOptions": (
                f"-Dderby.system.home={run_dir / 'derby'} "
                f"-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch"
            ),
        },
    )


def _cpu_jiffies() -> tuple[int, int]:
    """(all, steal) jiffies of the machine's aggregate CPU line."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:9]]
    return sum(vals), vals[7]


def _cpu_probe_s() -> float:
    """Seconds one thread takes for a fixed pure-Python loop: the host's
    per-core speed at the time of the run. Shared hosts vary by 2x over
    minutes without showing as steal, so runs are compared with it."""
    t = time.perf_counter()
    sum(i * i for i in range(2_000_000))
    return time.perf_counter() - t


def _descendants(root: int) -> set[int]:
    from tracing import _children

    kids, out, todo = _children(), set(), [root]
    while todo:
        for c in kids.get(todo.pop(), ()):
            out.add(c)
            todo.append(c)
    return out


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it runs in and the Python workers
    the JVM started, and wait until each has exited."""
    from pyspark import SparkContext

    started = _descendants(os.getpid())
    gw = SparkContext._gateway
    try:
        spark.stop()
    except Exception:  # an interrupted call can leave the gateway unusable
        traceback.print_exc()
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            # the JVM exits when its stdin closes
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait(timeout=10)
    SparkContext._gateway = None
    SparkContext._jvm = None
    deadline = time.time() + 20
    while True:
        alive = [p for p in started if Path(f"/proc/{p}").exists() and _is_live(p)]
        if not alive:
            return
        if time.time() > deadline:
            for p in alive:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = time.time() + 5
        time.sleep(0.1)


def _is_live(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def execute(op, tracer, traced: bool, i: int):
    """Run one operation; returns (seconds, output, error)."""
    tracer.active = traced
    t0 = time.perf_counter()
    try:
        with tracer.span("op." + op.kind, op=i):
            out = op.run()
        err = None
    except Exception as ex:  # a failed request is counted, not fatal
        traceback.print_exc()
        out, err = None, f"raised {type(ex).__name__}: {str(ex).splitlines()[0][:200]}"
    finally:
        tracer.active = False
    return time.perf_counter() - t0, out, err


def _n_rows(out) -> int | None:
    if isinstance(out, tuple):
        return len(out[1])
    return len(out) if isinstance(out, list) else None


def timed_loop(w, tracer, seconds: float, trace: bool):
    """Closed loop, one client. Traced runs execute each read-only
    operation twice (traced first on odd ops) to measure the overhead."""
    records = []
    start = time.perf_counter()
    i = 0
    while not (time.perf_counter() - start >= seconds and w.may_stop(i)):
        op = w.op(i)
        rec = {"op": i, "kind": op.kind}
        if trace and op.read_only:
            order = (True, False) if i % 2 else (False, True)
            runs = {t: execute(op, tracer, t, i) for t in order}
            rec["latency_s"], out, err = runs[True]
            rec["untraced_latency_s"], out2, err2 = runs[False]
            outs = [(out, err), (out2, err2)]
        else:
            rec["latency_s"], out, err = execute(op, tracer, trace, i)
            outs = [(out, err)]
        rec["rows"] = _n_rows(out)
        rec["_outs"], rec["_check"] = outs, op.check
        records.append(rec)
        i += 1
    wall = time.perf_counter() - start
    for rec in records:
        errors = []
        for out, err in rec.pop("_outs"):
            if err is None:
                try:
                    err = rec["_check"](out)
                except Exception as ex:  # a malformed result is a wrong result
                    err = f"check raised {type(ex).__name__}: {ex}"
            if err:
                errors.append(err)
        del rec["_check"]
        rec["error"] = "; ".join(errors) or None
    return records, wall


def end_to_end(w, records, wall: float, setup_s: float, peak_rss: int) -> dict:
    ok = [r["latency_s"] for r in records if not r["error"]] or [0.0]
    return {
        "setup_s": setup_s,
        "latency_p50_s": statistics.median(ok),
        "latency_tail_s": percentile(ok, w.tail_pct),
        "throughput_ops_per_s": sum(1 for r in records if not r["error"]) / wall,
        "peak_rss_mb": peak_rss / 2**20,
    }


def per_layer(w, tracer, records, session_s: float) -> dict:
    timed = {r["op"] for r in records}
    by_op: dict[int, dict[str, list[dict]]] = {}
    setup: dict[str, float] = {}
    for s in tracer.spans:
        if s["op"] in timed:
            by_op.setdefault(s["op"], {}).setdefault(s["name"], []).append(s)
        elif s["op"] is None:
            setup[s["name"]] = setup.get(s["name"], 0.0) + s["end"] - s["start"]
    out = {}
    for name, rule in _LAYER_RULES.items():
        kind, spans = rule[0], rule[1]
        if kind == "setup":
            out[name] = sum(setup.get(n, 0.0) for n in spans)
            continue
        per_op = [
            [s for n in spans for s in names.get(n, [])] for names in by_op.values()
        ]
        used = [ss for ss in per_op if ss]
        if kind == "calls":
            out[name] = sum(len(ss) for ss in per_op) / max(1, len(timed))
        elif kind == "time":
            out[name] = statistics.median(
                [sum(s["end"] - s["start"] for s in ss) for ss in used]
            ) if used else 0.0
        else:
            out[name] = sum(s.get(rule[2], 0) for ss in used for s in ss) / len(used) if used else 0.0
    out["session.start_s"] = session_s
    out["operators.similarity.recall_at_5"] = 0.0
    out.update(w.layer_metrics())
    pairs = [r["latency_s"] - r["untraced_latency_s"] for r in records if "untraced_latency_s" in r]
    out["trace.overhead_s"] = statistics.median(pairs) if pairs else 0.0
    return {k: out[k] for k in PER_LAYER}


def main(argv=None) -> int:
    t_start = time.perf_counter()
    args = parse_args(argv)
    if not PACKAGE.is_dir():
        print(f"engine package not found at {PACKAGE}; run from a repository checkout",
              file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    sys.path.insert(0, str(HERE))
    from tracing import RssSampler, Tracer, wrap_module_function
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    # a terminated run still stops its JVM and removes its run directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    run_dir = ROOT / ".bench_run" / f"{args.workload}-s{args.seed}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    run_dir.mkdir(parents=True)
    env = pin_environment(run_dir)
    spark = w = None
    try:
        with RssSampler() as rss:
            import duckdb
            import pyspark

            env.update(spark_version=pyspark.__version__, duckdb=duckdb.__version__)
            t = time.perf_counter()
            spark = start_spark(run_dir)
            session_s = time.perf_counter() - t
            env["java"] = spark.sparkContext._jvm.System.getProperty("java.version")
            tracer = Tracer(spark)
            tracer.active = bool(args.trace)
            w = WORKLOADS[args.workload](spark, tracer, run_dir, args.seed)
            w.inputs()
            w.setup()
            tracer.active = False
            undo = []
            if args.trace:
                import distributed_query_engine_spark.catalog as catalog

                engine = [m for n, m in sys.modules.items()
                          if n.startswith("distributed_query_engine_spark.")]
                undo.append(wrap_module_function(
                    tracer, catalog, "read_parquet_table", "catalog.read", engine))
            setup_s = time.perf_counter() - t_start
            cpu0 = _cpu_jiffies()
            rss.reset()  # serving memory: the timed loop's peak
            records, wall = timed_loop(w, tracer, args.seconds, bool(args.trace))
            cpu1 = _cpu_jiffies()
            # share of CPU time the hypervisor gave to other guests while
            # the loop ran: a slow run with high steal was contended
            env["cpu_steal_share_timed"] = (cpu1[1] - cpu0[1]) / max(1, cpu1[0] - cpu0[0])
            env["cpu_probe_s"] = _cpu_probe_s()
            for u in undo:
                u()
            w.close()
            stop_spark(spark)
            spark = None
    finally:
        try:
            if spark is not None:
                stop_spark(spark)
        finally:
            shutil.rmtree(run_dir, ignore_errors=True)
            try:
                run_dir.parent.rmdir()
            except OSError:  # another run is still using it
                pass

    if args.trace:
        metrics, units = per_layer(w, tracer, records, session_s), PER_LAYER
    else:
        metrics, units = end_to_end(w, records, wall, setup_s, rss.peak), END_TO_END
    failed = sum(1 for r in records if r["error"])
    result = {
        "correct": failed == 0,
        "attempted": len(records),
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
    }
    out_dir = ROOT / ".bench_out"
    out_dir.mkdir(exist_ok=True)
    stem = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    (out_dir / f"{stem}.json").write_text(
        json.dumps({"env": env, "result": result, "ops": records}, indent=1)
    )
    if args.trace:
        tracer.write(out_dir / f"{stem}-spans.jsonl")
    for r in records:
        if r["error"]:
            print(f"op {r['op']} ({r['kind']}) failed: {r['error']}", file=sys.stderr)
    print(json.dumps({"env": env}))
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
