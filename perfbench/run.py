"""Frontier + query-suite benchmark.

Usage (from the root of a checkout)::

    python3 perfbench/run.py --workload crawl_deep --seed 1 --seconds 10 --trace 0

Workloads: ``crawl_deep`` and ``query_suite`` (see
``BENCHMARK.json``). The program runs on ``local[<usable cores>]`` in one
process. The crawl's corpus is generated from ``--seed``; the query suite
reads fixed tables shipped in ``perfbench/sf0.01``. The load is a closed
loop with one client. ``--seconds`` is the least time measured: passes (a
full crawl, or one run of every query) repeat until it is spent, and a pass
is never cut short.

End-to-end metrics: ``setup_s`` is the CPU time of set-up (session start,
corpus, oracle and warm-up) summed over this process's threads, the JVM and
its Python workers (``proc.cpu_s``); CPU time leaves out the time other
tenants hold the cores. The others count the engine's work in one
untraced pass, from the Spark event log (``work_per_pass``): ``tasks``,
``shuffle_mb`` and ``records_m``, each a median over the run's passes. A
pass's wall and CPU times are per-layer metrics (``wall.*``, ``cpu.*``):
on a shared host both change by up to 2x for minutes at a time with the
host's load (the same crawl pass took 37 CPU seconds, then 62-80 for the
next hour, on a 4-core VM), which no bound of 25% survives.

With ``--trace 0`` the last stdout line carries the end-to-end metrics;
with ``--trace 1`` the run does traced and untraced passes in turn, and the
last line carries the per-layer metrics. The first pass is the traced one,
so its layer split is taken in the same state as an untraced run's first
measured pass; the tracing overhead (traced minus untraced pass time) also
contains whatever warming that first pass still does, so it is an upper
bound. The line before it is the run's provenance. ``--toy`` shrinks the
crawl's corpus for the smoke test (``perfbench/smoke.py``).

A traced run also checks itself: every per-layer metric of the layers the
workload exercises (``LAYERS`` of its class) must be non-zero, or a wrapper
stopped firing, and in every traced crawl round the named spans must cover
at least ``COVERAGE_MIN`` of the round's wall time. A miss counts as a
failed check.

Everything the run writes goes under ``.bench_work/`` in the checkout and
is removed at exit.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from concurrent.futures import ThreadPoolExecutor

import eventlog
from proc import RssSampler, cpu_s

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("crawl_deep", "query_suite")
COVERAGE_MIN = 0.9


def log(*a) -> None:
    print(*a, file=sys.stderr, flush=True)


def declared() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def cpu_jiffies() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs since boot, from ``/proc/stat``."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return vals[7], sum(vals[:8])


def start_spark(workload: str, work: str, nproc: int):
    from image_search_indexing_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    ev = os.path.join(work, "eventlog")
    for d in (tmp, local, ev):
        os.makedirs(d, exist_ok=True)
    conf = {
        "spark.driver.memory": "2g",
        "spark.local.dir": local,
        "spark.driver.extraJavaOptions": f"-XX:+UseParallelGC -Djava.io.tmpdir={tmp}",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        "spark.eventLog.enabled": "true", "spark.eventLog.dir": ev,
        "spark.eventLog.compress": "false", "spark.eventLog.rolling.enabled": "false",
    }
    return get_spark(app_name=f"perfbench-{workload}", master=f"local[{nproc}]", extra_conf=conf)


def stop_spark(spark) -> None:
    """Stop the session, then the gateway JVM it ran in, and wait for it:
    the JVM exits when its stdin closes, and takes its Python workers."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def provenance(args, nproc: int, load_before, wl, steal_frac: float) -> dict:
    import numpy
    import pandas
    import pyarrow
    import pyspark

    load_after = os.getloadavg()
    return {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "toy": args.toy, "nproc": nproc, "master": f"local[{nproc}]",
        "loadavg_before": load_before, "loadavg_after": load_after,
        "cpu_steal_frac": steal_frac,
        # another tenant's load before start, or CPU time the hypervisor
        # gave to other guests while measuring, inflates every time here
        "contended": load_before[0] > 0.5 * nproc or steal_frac > 0.05,
        "versions": {"python": sys.version.split()[0], "pyspark": pyspark.__version__,
                     "pyarrow": pyarrow.__version__, "numpy": numpy.__version__,
                     "pandas": pandas.__version__},
        "config": wl.config(),
    }


def check_layers(wl, layer: dict) -> None:
    for m in declared()["per_layer"]:
        if m["name"].startswith(wl.LAYERS):
            wl.check(layer.get(m["name"], 0.0) != 0, f"traced metric {m['name']} reads 0")
    if "rounds.coverage_min" in layer:
        wl.check(layer["rounds.coverage_min"] >= COVERAGE_MIN,
                 f"named spans cover {layer['rounds.coverage_min']:.3f} of a round")


def work_per_pass(wl, events: dict) -> dict[str, tuple[float, str]]:
    """What the engine did in one untraced pass, from the event log:
    Spark tasks, MB shuffled (written plus read), and millions of rows read
    (input plus shuffle), each a median over the run's untraced passes."""
    per = [eventlog.combine(events, f"pass.{i}") for i, p in enumerate(wl.passes) if not p["traced"]]
    med = statistics.median
    return {
        "tasks": (med(c["tasks"] for c in per), "count"),
        "shuffle_mb": (med(c["shuffle_bytes"] for c in per) / 1e6, "MB"),
        "records_m": (med(c["records_read"] for c in per) / 1e6, "Mrows"),
    }


def run(args) -> dict:
    nproc = len(os.sched_getaffinity(0))
    load_before = os.getloadavg()
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    # the JVM and the Python workers inherit these: temp files stay in the
    # checkout, and workers can import the program
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)

    rss = RssSampler()
    spark = None
    try:
        c_setup, t_setup = cpu_s(whole_process=True), time.perf_counter()
        spark = start_spark(args.workload, work, nproc)
        if args.workload == "query_suite":
            from suite import SuiteWorkload

            wl = SuiteWorkload(spark, args.seed)
        else:
            from crawl import CrawlWorkload

            wl = CrawlWorkload(spark, args.seed, work, args.toy, nproc)
        # the oracle (driver-side Python, or DuckDB) is computed while the
        # warm-up keeps the JVM busy; both stay outside the measured passes
        with ThreadPoolExecutor(1) as pool:
            oracle = pool.submit(wl.build_oracle)
            wl.warm_up()
            oracle.result()
        setup_s = cpu_s(whole_process=True) - c_setup
        phases = {"setup_wall_s": time.perf_counter() - t_setup, "setup_s": setup_s}

        tracer = None
        if args.trace:
            from spans import Tracer

            tracer = Tracer(spark)
            wl.install_tracing(tracer)
        rss.start()
        steal0 = cpu_jiffies()
        t0 = time.perf_counter()
        n_pass = 0
        while True:
            wl.run_pass(tracer if tracer is not None and n_pass % 2 == 0 else None)
            n_pass += 1
            if time.perf_counter() - t0 >= args.seconds and (tracer is None or n_pass >= 2):
                break
        rss.stop()
        phases["measure_s"] = time.perf_counter() - t0
        steal1 = cpu_jiffies()
        steal_frac = (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1])
        if tracer is not None:
            tracer.uninstall()

        stop_spark(spark)  # flushes the event log
        spark = None
        logs = [p for p in glob.glob(os.path.join(work, "eventlog", "*")) if os.path.isfile(p)]
        events = eventlog.summarize(logs[0]) if logs else {}
        metrics: dict[str, tuple[float, str]] = {}
        if tracer is not None:
            layer = wl.per_layer(tracer, events)
            layer["process.peak_rss_mb"] = rss.peak_kb / 1024.0
            for m in declared()["per_layer"]:
                metrics[m["name"]] = (float(layer.get(m["name"], 0.0)), m["unit"])
            check_layers(wl, layer)
        else:
            metrics.update(work_per_pass(wl, events))
            metrics["setup_s"] = (setup_s, "s")
        prov = provenance(args, nproc, load_before, wl, steal_frac)
        prov["passes"] = n_pass
        prov["pass_s"] = [p["wall_s"] for p in wl.passes]
        prov["pass_cpu_s"] = [p["cpu_s"] for p in wl.passes]
        prov["phases"] = phases
        prov["failures"] = wl.failures[:20]
        if wl.failures:
            log("CHECK FAILURES:\n  " + "\n  ".join(wl.failures[:20]))
        return {
            "provenance": prov,
            "result": {
                "correct": not wl.failures,
                "attempted": wl.checks,
                "failed": len(wl.failures),
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            },
        }
    finally:
        if rss.is_alive():
            rss.stop()
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--toy", action="store_true", help="tiny inputs, for the smoke test")
    args = ap.parse_args()

    sys.path.insert(0, ROOT)
    try:
        import __spark_entry__  # noqa: F401
        import image_search_indexing_spark  # noqa: F401
        from image_search_indexing_spark.frontier import rounds  # noqa: F401
    except ImportError as ex:
        log(f"cannot import the program from {ROOT}: {ex}")
        return 3
    try:
        out = run(args)
    except Exception:
        log(traceback.format_exc())
        return 1
    print(json.dumps({"provenance": out["provenance"]}))
    print(json.dumps(out["result"]))
    return 0


if __name__ == "__main__":
    sys.exit(main())
