#!/usr/bin/env python3
"""Repository benchmark: closed-loop pipeline workloads on local Spark.

Run from the root of a checkout:

    python3 perfbench/run.py --workload feed_convert --seed 1 --seconds 5 --trace 0

One client drives one pipeline pass at a time from this process, on
``local[nproc]``. Inputs are made from ``--seed`` before anything is
timed. Set-up is the session start plus the workload's warm-up; then
passes run until ``--seconds`` have passed, at least one. Every output
is checked.

The last line of standard output is one JSON object: with ``--trace 0``
the end-to-end metrics, with ``--trace 1`` the per-layer metrics of a run
whose layer calls are wrapped in spans (see spans.py). A line before it
prints all end-to-end figures with units, including those that only one
workload has; a traced run adds its tracing overhead. Spans, per-pass records and the environment go to
``.perfbench/`` in the checkout.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

REQUIRED = ("magicxml_spark/session.py", "tools/gen_sf.py", "tests/oracle_harness.py")
END_TO_END = {"setup_s": "s", "run_s": "s", "cpu_s": "s"}
# Printed and recorded for every run, but not gated: peak RSS follows the
# JVM's heap sizing and spreads too far between runs, the next two exist
# for feed_convert only, and the last two are 0 on a healthy run.
REPORTED = {"peak_rss_mb": "MB", "reingest_s": "s", "out_bytes_per_in_byte": "ratio",
            "leftover_rdds": "count", "fail_ratio": "ratio"}


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def confine(root: str, work: str) -> None:
    """Keep every file Spark, the JVM and Python write inside ``work``
    and make the checkout importable by this process and by workers."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # spark-submit first runs a small launcher JVM; keep its files here too
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p
    )
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "4g")
    sys.path.insert(0, root)


def start_session(work: str):
    from magicxml_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    return get_spark(
        "perfbench",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} -XX:-UsePerfData"
            ),
        },
    )


def stop_all() -> None:
    """Stop the session, then the JVM and its Python workers, and wait
    until each has ended."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    from probes import tree_pids

    session = SparkSession.getActiveSession()
    if session is not None:
        session.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.monotonic() + 30
    while (rest := [p for p in tree_pids(os.getpid()) if p != os.getpid()]) and time.monotonic() < deadline:
        for pid in rest:
            try:
                os.kill(pid, 15)
            except OSError:
                pass
        time.sleep(0.2)


def environment(spark, seed: int, load_before, ticks_before) -> dict:
    import pyspark

    from probes import host_cpu_ticks

    steal, total = (b - a for a, b in zip(ticks_before, host_cpu_ticks()))
    sc = spark.sparkContext
    return {
        "master": sc.master,
        "defaultParallelism": sc.defaultParallelism,
        "nproc": len(os.sched_getaffinity(0)),
        "load_before": [round(x, 2) for x in load_before],
        "load_after": [round(x, 2) for x in os.getloadavg()],
        "steal_share": steal / total if total else 0.0,
        "pyspark": pyspark.__version__,
        "seed": seed,
    }


def layer_metrics(tracer, passes, n_runs: int) -> dict[str, float]:
    """The per-layer metrics of a traced run, per pass."""
    from spans import ACTION, MATERIALIZE, TRACED

    totals = tracer.layer_totals(set(range(n_runs)))
    dp = tracer.spark.sparkContext.defaultParallelism

    def get(layer: str, counter: str) -> float:
        rec = totals.get(layer, {})
        if counter == "slot_util":
            return rec["exec_run_s"] / (rec["self_s"] * dp) if rec.get("self_s") else 0.0
        return rec.get(counter, 0.0) / n_runs

    wanted = {f"{mod}.{fn}": counters for mod, fn, counters in TRACED}
    wanted[MATERIALIZE] = ("calls", "self_s", "exec_cpu_s", "slot_util")
    wanted[ACTION] = ("self_s", "jobs", "tasks", "exec_cpu_s", "shuffle_w_mb", "spill_mb")
    out = {f"{layer}.{c}": get(layer, c) for layer, cs in wanted.items() for c in cs}
    calls = tracer.counts.get("schema_registry.calls", 0)
    out["sources.schema_registry.hit_ratio"] = tracer.counts.get("schema_registry.hits", 0) / calls if calls else 0.0
    out[f"{MATERIALIZE}.leftover_rdds"] = statistics.median(p.leftover_rdds for p in passes)
    for k in ("analysis_s", "optimization_s", "planning_s"):
        out[f"catalyst.{k}"] = statistics.median(p.catalyst.get(k, 0.0) for p in passes)
    out["trace.run_s"] = statistics.median(p.run_s for p in passes)
    return out


def code_digest(root: str) -> str:
    """Digest of the program's and the benchmark's Python sources, so
    records of different code are never compared."""
    h = hashlib.sha256()
    for top in ("magicxml_spark", "perfbench"):
        for dirpath, dirnames, files in os.walk(os.path.join(root, top)):
            dirnames.sort()
            for name in sorted(files):
                if name.endswith(".py"):
                    path = os.path.join(dirpath, name)
                    h.update(os.path.relpath(path, root).encode())
                    with open(path, "rb") as f:
                        h.update(f.read())
    return h.hexdigest()[:16]


def untraced_median(state: str, workload: str, code: str):
    """Median run_s of the correct untraced runs of ``workload`` on the
    same code recorded in this checkout, or None."""
    path = os.path.join(state, "results.jsonl")
    if not os.path.isfile(path):
        return None
    vals = []
    with open(path) as f:
        for line in f:
            rec = json.loads(line)
            if (rec["workload"] == workload and rec["trace"] == 0 and rec["correct"]
                    and rec.get("code") == code):
                vals.append(rec["metrics"]["run_s"])
    return statistics.median(vals) if vals else None


def med(xs):
    """Median, or None for a figure this workload does not have."""
    xs = [x for x in xs if x is not None]
    return statistics.median(xs) if xs else None


def measure(wl, args, work: str, state: str, code: str) -> dict:
    from probes import host_cpu_ticks

    load_before, ticks_before = os.getloadavg(), host_cpu_ticks()
    t0 = time.perf_counter()
    spark = start_session(work)
    wl.warm_up(spark)
    setup_s = time.perf_counter() - t0

    verify_s, problems = 0.0, []
    tracer = None
    if args.trace:
        from spans import Tracer

        tracer = Tracer(spark)
        tracer.install(type(spark.range(1)))

    passes = []
    t_loop = time.perf_counter()
    while True:
        if tracer is not None:
            tracer.run_id = len(passes)
        passes.append(wl.run_pass(spark, tracer))
        if len(passes) == 1:  # untimed: check the first pass's outputs
            t0 = time.perf_counter()
            problems = wl.verify(spark)
            verify_s = time.perf_counter() - t0
            for msg in problems:
                print(f"perfbench: check failed: {msg}", flush=True)
        wl.after_pass(spark)
        if time.perf_counter() - t_loop >= args.seconds:
            break

    attempted = sum(p.calls for p in passes)
    failed = min(attempted, sum(p.failed for p in passes) + len(problems))
    figures = {
        "setup_s": setup_s,
        "run_s": med([p.run_s for p in passes]),
        "cpu_s": med([p.cpu_s for p in passes]),
        "peak_rss_mb": med([p.peak_rss_mb for p in passes]),
        "reingest_s": med([p.reingest_s for p in passes]),
        "out_bytes_per_in_byte": med([p.out_bytes_per_in_byte for p in passes]),
        "leftover_rdds": med([p.leftover_rdds for p in passes]),
        "fail_ratio": failed / attempted,
    }
    rec = {
        "workload": wl.name, "seed": args.seed, "trace": args.trace, "code": code,
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "figures": figures, "verify_s": verify_s,
        "passes": [vars(p) for p in passes],
        "env": environment(spark, args.seed, load_before, ticks_before),
    }
    if tracer is None:
        rec["metrics"] = {k: figures[k] for k in END_TO_END}
    else:
        rec["metrics"] = layer_metrics(tracer, passes, len(passes))
        base = untraced_median(state, wl.name, code)
        rec["trace_overhead_s"] = None if base is None else rec["metrics"]["trace.run_s"] - base
        name = f"spans-{wl.name}-{args.seed}-{os.getpid()}.jsonl"
        tracer.dump(os.path.join(state, name))
    return rec


def main(argv=None) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    missing = [p for p in REQUIRED if not os.path.isfile(os.path.join(root, p))]
    if missing:
        print(f"perfbench: not a checkout of the repository (missing {missing})", file=sys.stderr)
        return 2
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; have {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    state = os.path.join(root, ".perfbench")
    work = os.path.join(state, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    confine(root, work)
    wl = WORKLOADS[args.workload](root, work, args.seed)
    try:
        t0 = time.perf_counter()
        wl.prepare()
        prepare_s = time.perf_counter() - t0
        rec = measure(wl, args, work, state, code_digest(root))
        rec["prepare_s"] = prepare_s
    finally:
        stop_all()
        shutil.rmtree(work, ignore_errors=True)
    with open(os.path.join(state, "results.jsonl"), "a") as f:
        f.write(json.dumps(rec) + "\n")

    units = {**END_TO_END, **REPORTED}
    print("perfbench env: " + json.dumps(rec["env"]))
    print(f"perfbench {wl.name}: " + ", ".join(
        f"{k}=n/a" if v is None else f"{k}={v:.4g} {units[k]}" for k, v in rec["figures"].items()))
    if args.trace:
        # traced run_s minus the median untraced run_s of the same code in
        # this checkout; n/a until such a run has been recorded
        over = rec["trace_overhead_s"]
        print(f"perfbench {wl.name}: trace.overhead_s=" + ("n/a" if over is None else f"{over:.4g} s"))
    if args.trace:
        metrics = {k: {"value": v, "unit": layer_unit(k)} for k, v in rec["metrics"].items()}
    else:
        metrics = {k: {"value": rec["metrics"][k], "unit": END_TO_END[k]} for k in END_TO_END}
    print(json.dumps({"correct": rec["correct"], "attempted": rec["attempted"],
                      "failed": rec["failed"], "metrics": metrics}))
    return 0


def layer_unit(name: str) -> str:
    counter = name.rsplit(".", 1)[-1]
    if counter.endswith("_s"):
        return "s"
    if counter.endswith("_mb"):
        return "MB"
    if counter in ("hit_ratio", "slot_util"):
        return "ratio"
    return "count"


if __name__ == "__main__":
    sys.exit(main())
