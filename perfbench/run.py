#!/usr/bin/env python3
"""Benchmark of the org_rdkit_lucene_spark engine.

Run from the repository root:

    python3 perfbench/run.py --workload query_point --seed 1 --seconds 10 --trace 0

Workloads (see ``workloads.py``): ``build``, ``query_point``,
``query_batch_hot`` and ``ingest``. Each is a closed loop with one
client over inputs generated from ``--seed``, against a Spark session of
``local[max(1, nproc // 2)]``. The run

1. starts the session, runs the workload's set-up (input generation and
   base-index build) three times and warms up once
   (``setup_s`` = session start + the median set-up + the warm-up);
2. sends requests for ``--seconds`` seconds, timing each one and
   reading the CPU time of the process tree around it;
3. checks every answer (DuckDB twin, CheckIndex, sha256 of content);
4. prints each metric by name and unit, then one JSON line:
   ``{"correct", "attempted", "failed", "metrics"}``.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` reports the
per-layer metrics instead: requests run under Spark job groups, jobs and
stages are read from the status store, executed plans are walked, and
spans are written to ``perfbench/_out/``.

Everything the run writes goes under ``perfbench/_work/`` and is removed
at exit, Spark's local dirs and temp files included.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_REPS = 3
# the metrics of the JSON line with --trace 0. Request cost is CPU time
# of the process tree: wall-clock times stretch with the host's load on
# a shared virtual machine, and are printed but not among them. So is
# ``request_tail_s``: one window gives ten samples or fewer, so the
# tail rule falls back to the maximum of a handful of requests.
END_TO_END = {
    "setup_s": "s",
    "request_cpu_s": "s",
    "items_per_cpu_s": "1/s",
    "peak_rss_mb": "MB",
}


def slots() -> int:
    return max(1, len(os.sched_getaffinity(0)) // 2)


# Driver JVM heap. The inputs need far less. A fixed, pre-touched heap
# keeps the JVM's share of peak RSS from depending on when GC ran, so
# peak_rss_mb moves with the Python side's memory (driver and Arrow
# workers) and sees the JVM only as a constant 1 GiB. In local mode the
# tasks run in this JVM; their memory shows in the traced run's
# spark.managed_memory_peak_mb and spark.jvm_heap_peak_mb.
DRIVER_HEAP = "1g"


def tail(lat: list[float]) -> tuple[float, str]:
    """The highest percentile with at least ten samples beyond it, and
    its label. With ten samples or fewer no percentile qualifies, and the
    maximum is reported."""
    s = sorted(lat)
    n = len(s)
    if n <= 10:
        return s[-1], f"max of n={n}"
    i = n - 11
    return s[i], f"p{100.0 * (i + 1) / n:.1f} of n={n}"


class Context:
    def __init__(self, spark, tracer, seed: int, work_dir: str, slots: int, cpu):
        self.spark, self.tracer, self.seed = spark, tracer, seed
        self.work_dir, self.slots, self.cpu = work_dir, slots, cpu


def start_spark(work_dir: str, n_slots: int, trace: bool):
    """Session sized from outside the engine: local[n_slots], the driver
    heap through ``SPARK_DRIVER_MEM`` (which ``get_spark`` reads) and
    Spark's scratch space under ``work_dir``. Traced runs also poll the
    JVM's memory every 100 ms, for the peak heap."""
    local = os.path.join(work_dir, "spark-local")
    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(local)
    os.makedirs(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_HEAP
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    from org_rdkit_lucene_spark.session import get_spark

    conf = {
        "spark.local.dir": local,
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -Xms{DRIVER_HEAP} -XX:+AlwaysPreTouch",
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.ui.retainedExecutions": "10000",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        conf["spark.executor.metrics.pollingInterval"] = "100ms"
    return get_spark("perfbench", cores=n_slots, extra_conf=conf)


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and with it the Python
    workers it started) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def run(args, work_dir: str, cpu) -> dict:
    import workloads
    from sparkstats import StatusStore
    from spans import Tracer

    n_slots = slots()
    t0 = time.perf_counter()
    spark = start_spark(work_dir, n_slots, bool(args.trace))
    try:
        session_s = time.perf_counter() - t0
        tracer = Tracer(spark, bool(args.trace))
        ctx = Context(spark, tracer, args.seed, work_dir, n_slots, cpu)
        wl = workloads.WORKLOADS[args.workload](ctx)
        setups = []
        for rep in range(SETUP_REPS):
            t = time.perf_counter()
            with tracer.span(f"setup-{rep}"):
                wl.prepare(rep)
            setups.append(time.perf_counter() - t)
        t = time.perf_counter()
        with tracer.span("warm_up"):
            wl.warm_up()
        warm_s = time.perf_counter() - t
        wl.window_start = time.time()
        wl.window(args.seconds)
        wl.window_s = time.time() - wl.window_start
        t = time.perf_counter()
        try:
            wl.check()
        except Exception as e:  # noqa: BLE001
            # nothing the checker had not yet judged counts as verified
            for r in wl.reqs:
                if r.ok:
                    r.ok, r.why = False, f"check raised {type(e).__name__}: {e}"
            wl.check_error = f"check raised {type(e).__name__}: {e}"
        check_s = time.perf_counter() - t
        lat = wl.request_latencies()
        res = {
            "session_s": session_s,
            "setups": setups,
            "warm_s": warm_s,
            "check_s": check_s,
            "lat": lat,
            "wl": wl,
        }
        if args.trace:
            store = StatusStore.read(spark)
            try:
                res["layers"] = wl.layers(store)
            except Exception:
                # a failed call can leave a layer without data; the run
                # is already reported as not correct
                if all(r.ok for r in wl.reqs) and not wl.extra_calls()[1]:
                    raise
                traceback.print_exc()
                res["layers"] = {}
            res["layers"]["spark.jvm_heap_peak_mb"] = store.jvm_heap_peak_bytes / 2**20
            res["layers"]["spark.managed_memory_peak_mb"] = store.managed_peak_bytes / 2**20
            res["layers"]["trace.overhead_s_per_request"] = tracer.overhead_s / max(len(wl.reqs), 1)
            out_dir = os.path.join(HERE, "_out")
            os.makedirs(out_dir, exist_ok=True)
            tracer.write(os.path.join(out_dir, f"spans-{args.workload}-{args.seed}.jsonl"))
        res["human"] = wl.human()
        return res
    finally:
        stop_spark(spark)


def parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["build", "query_point", "query_batch_hot", "ingest"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return ap.parse_args(argv)


def entry(argv=None) -> int:
    t_start = time.perf_counter()
    args = parse(argv)
    if not os.path.isdir(os.path.join(ROOT, "org_rdkit_lucene_spark")):
        print("perfbench: org_rdkit_lucene_spark not found next to perfbench/; "
              "run from the root of a full checkout", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    from proctree import RssSampler, TreeCpu

    work_dir = os.path.join(HERE, "_work", f"run-{os.getpid()}")
    os.makedirs(work_dir)
    try:
        cpu = TreeCpu()
        with RssSampler(cpu) as rss:
            res = run(args, work_dir, cpu)
    finally:
        shutil.rmtree(work_dir, ignore_errors=True)
    wl = res["wl"]
    lat = res["lat"]
    failed_reqs = [r for r in wl.reqs if not r.ok]
    x_att, x_failed, x_why = wl.extra_calls()
    attempted = len(wl.reqs) + x_att
    failed = len(failed_reqs) + x_failed
    if wl.check_error:
        failed, x_why = attempted, x_why + [wl.check_error]
    p50 = statistics.median(lat)
    tail_v, tail_label = tail(lat)
    setup_s = res["session_s"] + statistics.median(res["setups"]) + res["warm_s"]
    e2e = {
        "setup_s": setup_s,
        "request_cpu_s": statistics.median(wl.rotation_cpu()),
        "items_per_cpu_s": wl.items_per_cpu_s(),
        "peak_rss_mb": rss.peak / 2**20,
    }
    print(f"workload {args.workload} seed {args.seed} slots {slots()} window {wl.window_s:.2f} s "
          f"check {res['check_s']:.2f} s total {time.perf_counter() - t_start:.2f} s")
    print(f"input = {wl.n_docs} docs, {wl.input_bytes / wl.n_docs:.0f} content bytes/doc, "
          f"{wl.parquet_bytes / wl.n_docs:.0f} parquet bytes/doc")
    print(f"setup_s = {setup_s:.4f} s (session {res['session_s']:.3f} s + median of "
          f"{', '.join(f'{s:.3f}' for s in res['setups'])} s + warm-up {res['warm_s']:.3f} s)")
    print(f"request_p50_s = {p50:.4f} s (n={len(lat)}; {', '.join(f'{x:.3f}' for x in lat)})")
    rot = wl.rotation_cpu()
    print(f"request_cpu_s = {e2e['request_cpu_s']:.4f} s (median of {len(rot)} rotations of "
          f"{wl.rotation}: {', '.join(f'{x:.3f}' for x in rot)}; n={len(lat)}: "
          f"{', '.join(f'{r.cpu_s:.2f}' for r in wl.reqs)})")
    print(f"request_tail_s = {tail_v:.4f} s ({tail_label})")
    print(f"items_per_cpu_s = {e2e['items_per_cpu_s']:.4f} 1/s ({wl.item} per CPU second)")
    for name, value, unit in res["human"]:
        print(f"{name} = {value:.4f} {unit}")
    print(f"failed_frac = {failed / attempted:.4f} ({failed} of {attempted})")
    print(f"peak_rss_mb = {e2e['peak_rss_mb']:.1f} MB")
    for r in failed_reqs[:10]:
        print(f"FAILED request {r.rid} {r.kind}: {r.why}")
    for why in x_why:
        print(f"FAILED {why}")
    if args.trace:
        import workloads

        metrics = {}
        for name, unit in workloads.PER_LAYER.items():
            value = float(res["layers"].get(name, 0.0))
            metrics[name] = {"value": value, "unit": unit}
            print(f"{name} = {value:.6g} {unit}")
    else:
        metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in e2e.items()}
    out = {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(entry())
