"""Benchmark entry point.

    python3 perfbench/run.py --workload enrich --seed 1 --seconds 15 --trace 0

Runs one workload (``enrich`` or ``ann_mobility``) at a seed in this fresh
process on ``local[<cpus>]`` with a single client, checks every output,
and prints as its last stdout line one JSON object
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports
the end-to-end metrics, ``--trace 1`` the per-layer metrics of a
separate traced run (Spark event log on, one job group per span).
Human-readable context (load, sample counts, input generation time,
tracing overhead) and a table of the metrics go to the lines before the
JSON; Spark's own log goes to stderr.

Everything the run writes stays under this directory: inputs are cached
in ``.cache/``, scratch (snapshot tables, Spark local dirs, the event
log) lives in ``.work/<run>/`` and is removed at exit.
"""

from __future__ import annotations

import time

T_START = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from ann_mobility import AnnMobility  # noqa: E402
from common import Run  # noqa: E402
from enrich import Enrich  # noqa: E402
from procstats import PeakRss, load1  # noqa: E402
from spans import (  # noqa: E402
    Tracer, busy_attributed, per_layer_metrics, per_layer_names, read_event_log,
    span_rows,
)

E2E = {
    "images_per_s": "images/s",
    "requests_per_s": "1/s",
    "latency_p50_s": "s",
    "latency_tail_s": "s",
    "recall_at_5": "ratio",
    "peak_rss_mb": "MB",
    "setup_s": "s",
}
DRIVER_MEMORY = "2g"


WORKLOADS = {w.name: w for w in (Enrich, AnnMobility)}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=15)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args(argv)


def program_available() -> bool:
    sys.path.insert(0, ROOT)
    try:
        import langtoolsosm_spark.plans.pipeline  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: program not importable from {ROOT}: {e}", file=sys.stderr)
        return False
    return True


def start_spark(workdir: str, tracer_conf: dict, tracer: Tracer):
    """The program's own session factory, sized to this machine, with all
    scratch under ``workdir``."""
    from langtoolsosm_spark.session import get_spark

    tmp = os.path.join(workdir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TMPDIR"] = tmp
    conf = {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.local.dir": tmp,
        "spark.sql.warehouse.dir": os.path.join(workdir, "warehouse"),
        # a fixed heap (initial = max): G1's heap growth otherwise makes
        # the process tree's peak RSS jump between runs
        "spark.driver.extraJavaOptions":
            f"-Xms{DRIVER_MEMORY} -Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}",
        **tracer_conf,
    }
    cpus = len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()
    with tracer.span("session.get_spark", 0):
        return get_spark("perfbench", cores=cpus, extra_conf=conf), cpus


def stop_spark(spark) -> None:
    """Stop the session, then the JVM gateway process, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:  # noqa: BLE001
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None


def main(argv=None) -> int:
    args = parse_args(argv)
    if not program_available():
        return 2
    if args.trace:
        from check_eventlog import selftest

        selftest()
    load_start = load1()
    rss = PeakRss().start()
    workdir = os.path.join(HERE, ".work", f"{args.workload}-s{args.seed}-p{os.getpid()}")
    shutil.rmtree(workdir, ignore_errors=True)
    os.makedirs(workdir)
    tracer = Tracer()
    run = Run(args.seed, args.seconds, tracer, workdir)
    wl = WORKLOADS[args.workload](run)
    spark = None
    try:
        t = time.time()
        wl.generate()
        gen_s = time.time() - t

        conf = {}
        eventlog = os.path.join(workdir, "eventlog")
        if args.trace:
            os.makedirs(eventlog)
            conf = {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + eventlog,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        spark, run.info["cpus"] = start_spark(workdir, conf, tracer)
        if args.trace:
            tracer.sc = spark.sparkContext
        wl.setup(spark)
        setup_s = time.time() - T_START - gen_s - run.untimed_s
        setup_untimed = run.untimed_s

        loop_t0 = time.time()
        while True:
            wl.cycle()
            if time.time() - loop_t0 >= args.seconds:
                break
        loop_t1 = time.time()
        loop_untimed = run.untimed_s - setup_untimed
        e2e = wl.e2e()
        stop_spark(spark)
        spark = None
        if args.trace:
            # complete once the session has stopped
            with open(os.path.join(eventlog, os.listdir(eventlog)[0])) as f:
                log = read_event_log(f)
    finally:
        if spark is not None:
            stop_spark(spark)
        rss.stop()
        shutil.rmtree(workdir, ignore_errors=True)

    attempted = len(run.ops)
    failed = sum(not o["ok"] for o in run.ops)
    e2e.update(peak_rss_mb=rss.peak_mb, setup_s=setup_s)
    lat = e2e.pop("_latency")
    context = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "load1_start": round(load_start, 2), "load1_end": round(load1(), 2),
        "input_generation_s": round(gen_s, 3),
        "peak_rss_procs": rss.peak_procs, "rss_samples": rss.samples,
        "loop_s": round(loop_t1 - loop_t0, 3),
        "loop_checks_s": round(loop_untimed, 3),
        "latency_tail_pct": lat["tail_pct"], "latency_samples": lat["samples"],
        "failed_frac": failed / attempted if attempted else 1.0,
        **{k[1:]: v for k, v in e2e.items() if k.startswith("_")},
        **{k: v for k, v in run.info.items() if k != "layer_extra"},
    }
    errors = [o["error"] for o in run.ops if not o["ok"]][:5]
    metrics_e2e = {k: e2e[k] for k in E2E}
    last = os.path.join(HERE, ".work", f"last-{args.workload}-s{args.seed}.json")

    if args.trace:
        rows = span_rows(tracer.spans, log)
        # every span of the run, for attribution beyond the medians below
        spans_out = os.path.join(HERE, ".work", f"spans-{args.workload}-s{args.seed}.json")
        with open(spans_out, "w") as f:
            json.dump(rows, f)
        context["spans_file"] = os.path.relpath(spans_out, ROOT)
        busy, share = busy_attributed(log, loop_t0, loop_t1)
        extra = dict(run.info.get("layer_extra", {}), **{"trace.busy_attributed": share})
        values = per_layer_metrics(rows, extra)
        metrics = {n: {"value": values[n], "unit": u} for n, u, _ in per_layer_names()}
        context["job_busy_s"] = round(busy, 3)
        context["traced_e2e"] = metrics_e2e
        if os.path.exists(last):
            with open(last) as f:
                untraced = json.load(f)
            context["tracing_overhead"] = {
                k: metrics_e2e[k] - untraced[k] for k in E2E if k in untraced
            }
    else:
        metrics = {k: {"value": metrics_e2e[k], "unit": u} for k, u in E2E.items()}
        with open(last, "w") as f:
            json.dump(metrics_e2e, f)

    print(json.dumps({"context": context, "errors": errors}, default=str))
    for name, m in metrics.items():
        print(f"  {name:48s} {m['value']:>16.6g} {m['unit']}")
    print(f"  {'failed_frac':48s} {context['failed_frac']:>16.6g} ratio")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
