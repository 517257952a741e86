"""Maintenance benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload crawl_upsert --seed 1 --seconds 20 --trace 0

Run from the repository root. ``--trace 0`` prints the end-to-end metrics
of ``BENCHMARK.json``; ``--trace 1`` runs the same workload with spans
around every engine call and prints the per-layer metrics instead. The
last stdout line is ``{"correct", "attempted", "failed", "metrics"}``;
the line before it is a report with details (tail percentile and sample
count, per-layer sources, checks). Spans of a traced run are written to
``.perfbench_work/spans-<run id>.json``. The exit code is 0 only when
every correctness check passed.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
DRIVER_MEMORY = "2g"


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["crawl_upsert", "smallfile_maintain"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return ap.parse_args(argv)


def sweep_stale_runs() -> None:
    """Remove run directories of runs that were killed (their pid is gone)."""
    runs = os.path.join(WORK, "runs")
    for name in os.listdir(runs) if os.path.isdir(runs) else ():
        if not os.path.exists(f"/proc/{name.rsplit('-', 1)[-1]}"):
            shutil.rmtree(os.path.join(runs, name), ignore_errors=True)


def scratch_inside(run_dir: str) -> str:
    """Point every temp path of this process and its children (input
    generators, the JVMs, Python workers) into the run directory."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    # the JVM's perf-data file would go to /tmp whatever the temp dir is
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    return tmp


def start_session(cores: int, run_dir: str, tmp: str):
    """The engine's session at local[cores], with every scratch path inside
    the run directory."""
    from ecommerce_lakehouse_spark.session import get_spark

    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    spark = get_spark("perfbench", cores=cores, shuffle_partitions=cores, extra_conf={
        "spark.local.dir": tmp,
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        # a fixed-size heap: G1's resize timing otherwise moved the JVM's
        # resident memory by ±10 % between identical runs
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Xms{DRIVER_MEMORY}",
    })
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_processes() -> None:
    """Stop every process this run started and wait until each has ended:
    the Spark JVM (told to exit by closing its stdin, as when a PySpark
    driver exits), the Python workers under it, and multiprocessing's
    resource tracker left from input generation. Safe to call twice."""
    if "pyspark" in sys.modules:
        from pyspark import SparkContext

        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None)
        if proc is not None:
            try:
                gw.shutdown()
            except Exception:  # the JVM may be gone already
                pass
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                pass  # stop_descendants below ends it
            SparkContext._gateway = SparkContext._jvm = None
    from multiprocessing import resource_tracker

    stop_tracker = getattr(resource_tracker._resource_tracker, "_stop", None)
    if stop_tracker is not None:
        stop_tracker()
    from perfbench import measure

    left = measure.stop_descendants(os.getpid())
    if left:
        print(f"perfbench: processes {left} did not end", file=sys.stderr)


def _terminated(signum, _frame):
    raise SystemExit(128 + signum)


def traced_patches(m: dict) -> list[tuple]:
    """(owner, attribute, layer) of engine calls made INSIDE other engine
    calls; traced runs wrap them in spans. Calls the benchmark makes
    itself are spanned where it makes them."""
    return [
        (m["merge"], "merge_into", "merge"),
        (m["cdc_apply"], "apply_cdc", "cdc.apply"),
        (m["format"].IcehouseTable, "changes", "cdc.feed"),
    ]


def install(t, patches: list[tuple]) -> list[tuple]:
    saved = []
    for owner, attr, layer in patches:
        orig = getattr(owner, attr)

        def wrapper(*args, _orig=orig, _layer=layer, _attr=attr, **kwargs):
            if t.stack and t.stack[-1].layer == _layer:
                return _orig(*args, **kwargs)  # the benchmark's own span
            return t.call(_attr, _layer, _orig, *args, **kwargs)

        setattr(owner, attr, wrapper)
        saved.append((owner, attr, orig))
    return saved


def run(args) -> int:
    try:
        import ecommerce_lakehouse_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the engine package is not importable from {ROOT}: {e}",
              file=sys.stderr)
        return 2
    from perfbench import inputs as inp
    from perfbench import measure, report
    from perfbench.workloads import WORKLOADS

    cores = len(os.sched_getaffinity(0))
    run_id = f"{args.workload}-s{args.seed}-{os.getpid()}"
    run_dir = os.path.join(WORK, "runs", run_id)
    sweep_stale_runs()
    tmp = scratch_inside(run_dir)
    data = inp.prepare(WORK, args.workload, args.seed, args.seconds)
    t = measure.Tracer(traced=bool(args.trace), run_id=run_id)
    rss = measure.PeakRss(os.getpid())
    spark = None
    try:
        # ---- set-up: session, worker warm-up, base build + warm-up ops
        t0 = time.perf_counter()
        spark = t.call("start", "session", start_session, cores, run_dir, tmp)
        t.attach(spark)
        from ecommerce_lakehouse_spark.session import warm_python_workers

        t.call("warm", "session", warm_python_workers, spark, cores)
        w = WORKLOADS[args.workload](spark, t, data, run_dir, cores)
        saved = install(t, traced_patches(w.m)) if t.traced else []
        w.setup()
        w.harvest_start()
        setup_s = time.perf_counter() - t0
        rss.sample()

        # ---- timed phase
        t.phase = "timed"
        cpu0 = measure.tree_cpu_s(os.getpid())
        host0 = measure.cpu_times()
        w0 = time.perf_counter()
        error = None
        try:
            w.timed()
        except Exception:  # a failed op: recorded, the gate below fails
            error = traceback.format_exc()
            w.failed += 1
        wall_s = time.perf_counter() - w0
        cpu_s = measure.tree_cpu_s(os.getpid()) - cpu0
        steal = measure.steal_share(host0, measure.cpu_times())
        rss.sample()

        # ---- correctness gate and bookkeeping, after the clock stopped
        t.phase = "epilogue"
        if error is None:
            w.epilogue()
            t.phase = "check"
            w.check()
        else:
            print(error, file=sys.stderr)
            w.gate("ops", False)
        on_disk, live = w.space()
        main = w.pages
        extra = {
            "wall_s": wall_s,
            "metadata_json_bytes": os.path.getsize(main._version_file(main.current_version())),
            "manifests_live": main.current_snapshot().summary.get("total_manifests", 0),
        }
        for owner, attr, orig in saved:
            setattr(owner, attr, orig)
    finally:
        if spark is not None:
            spark.stop()
        stop_processes()
        shutil.rmtree(run_dir, ignore_errors=True)

    correct = w.failed == 0 and all(w.checks.values())
    detail: dict = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
                    "checks": w.checks, "cores": cores, "steps": len(data.steps),
                    "host_steal_share": round(steal, 4)}
    ok_ratio = {"ops_ok_ratio": {"value": (w.attempted - w.failed) / max(w.attempted, 1),
                                 "unit": "ratio"}}
    if error is not None or not correct:
        metrics = ok_ratio  # latencies of a failed run are not reported
    elif t.traced:
        vals, detail["layer_source"] = report.layer_metrics(t, _foreground(w, t), extra)
        metrics = {k: {"value": v, "unit": _unit(k)} for k, v in vals.items()}
        spans_path = os.path.join(WORK, f"spans-{run_id}.json")
        with open(spans_path, "w") as f:
            json.dump(t.dump(), f)
        detail["spans"] = os.path.relpath(spans_path, ROOT)
    else:
        pct, tail_v, n = measure.tail(w.foreground)
        detail["op_tail"] = {"percentile": round(pct, 1), "n": n}
        detail["probes"] = len(w.probes)
        vals = {
            "setup_s": (setup_s, "s"),
            "wall_s": (wall_s, "s"),
            "op_p50_s": (statistics.median(w.foreground), "s"),
            "op_tail_s": (tail_v, "s"),
            "read_p50_s": (statistics.median(w.probes), "s"),
            "maint_s": (sum(w.maint), "s"),
            "write_amp": (measure.write_amp(list(w.added_bytes.values()), w.input_bytes), "ratio"),
            "space_amp": (measure.space_amp(on_disk, live), "ratio"),
            "cpu_s": (cpu_s, "s"),
            "peak_rss_mb": (rss.mb(), "MB"),
        }
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in vals.items()} | ok_ratio
    print(json.dumps(detail))
    print(json.dumps({"correct": correct, "attempted": max(w.attempted, 1),
                      "failed": w.failed, "metrics": metrics}))
    return 0 if correct else 1


def _foreground(w, t) -> list:
    return [s for s in t.of(w.foreground_layer, "timed") if s.parent is None]


def _unit(name: str) -> str:
    if name.endswith(("_s", ".s")):
        return "s"
    if name.endswith("_ratio"):
        return "ratio"
    if "bytes" in name:
        return "bytes"
    return "count"


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    from perfbench import measure

    measure.become_subreaper()
    signal.signal(signal.SIGTERM, _terminated)
    try:
        return run(args)
    finally:
        stop_processes()


if __name__ == "__main__":
    sys.exit(main())
