#!/usr/bin/env python3
"""Crawl-frontier benchmark.

    python3 perfbench/run.py --workload crawl_polite --seed 1 --seconds 16 --trace 0

Builds the workload's inputs from the seed, starts a Spark session the way
the CLI does (``graven_spark.session.build_session`` at ``local[nproc]``),
runs the workload for ``--seconds``, checks every output, and prints one
report line followed by one result line (JSON). ``--trace 0`` reports the
end-to-end metrics; ``--trace 1`` is a separate traced run that reports the
per-layer metrics and writes its spans to ``.perfbench_out/``.

Everything the run writes stays under the checkout: scratch files go to
``.perfbench_work/`` and are removed at exit.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("crawl_polite", "schedule_mega")
ENGINE_CONFS = (
    "spark.master", "spark.driver.memory", "spark.sql.shuffle.partitions",
    "spark.default.parallelism", "spark.sql.adaptive.enabled",
    "spark.sql.execution.arrow.pyspark.enabled", "spark.sql.optimizer.excludedRules",
    "spark.sql.legacy.bucketedTableScan.outputOrdering", "spark.sql.session.timeZone",
    "spark.sql.ansi.enabled",
)


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def source_digest() -> str:
    """sha1 over the engine's Python sources, for checkouts without git."""
    h = hashlib.sha1()
    pkg = os.path.join(ROOT, "graven_spark")
    for base, dirs, names in sorted(os.walk(pkg)):
        dirs.sort()
        for n in sorted(names):
            if n.endswith(".py"):
                with open(os.path.join(base, n), "rb") as f:
                    h.update(n.encode() + f.read())
    return h.hexdigest()


def git_sha() -> str | None:
    try:
        r = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                           capture_output=True, text=True, timeout=10)
    except OSError:
        return None
    return r.stdout.strip() if r.returncode == 0 else None


def start_session(work: str, trace: bool):
    """The CLI's session (build_session) at local[nproc], with its scratch
    space, warehouse and JVM temp files kept inside ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = os.path.join(work, "spark-local")
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "3g")
    # Python workers import graven_spark from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Duser.timezone=UTC -Djava.io.tmpdir={tmp}",
    }
    if trace:
        events = os.path.join(work, "events")
        os.makedirs(events, exist_ok=True)
        conf.update({"spark.eventLog.enabled": "true", "spark.eventLog.dir": events,
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.rolling.enabled": "false"})
    from graven_spark.session import build_session

    return build_session(master=f"local[{nproc()}]", app_name="perfbench",
                         extra_conf=conf)


def stop_session(spark) -> None:
    """Stop Spark, then the JVM and its Python workers; wait for each."""
    from pyspark import SparkContext

    from perfbench.measure import descendants, start_time

    gateway = SparkContext._gateway
    proc = gateway.proc
    # (pid, start time): a pid the kernel has since reused for another
    # process has another start time, and is left alone
    pids = [(p, start_time(p)) for p in descendants(proc.pid)]
    spark.stop()
    gateway.shutdown()
    proc.stdin.close()  # the gateway JVM exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=30)
    deadline = time.monotonic() + 30
    while pids and time.monotonic() < deadline:
        pids = [(p, t) for p, t in pids if t is not None and start_time(p) == t]
        time.sleep(0.1)
    for p, t in pids:  # a worker that outlived the JVM
        if start_time(p) == t:
            try:
                os.kill(p, 9)
            except ProcessLookupError:
                pass


def settings(spark, ctx, args) -> dict:
    import pyspark

    jvm = spark.sparkContext._jvm
    return {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace,
        "nproc": nproc(), "spark": pyspark.__version__,
        "java": jvm.System.getProperty("java.version"),
        "python": platform.python_version(),
        "git_sha": git_sha(), "source_sha1": source_digest(),
        "session": "graven_spark.session.build_session at local[nproc], as the "
                   "CLI builds it (a bare SparkSession is not exercised)",
        "confs": {k: spark.conf.get(k, None) for k in ENGINE_CONFS},
        **ctx.info,
    }


def e2e_metrics(res: dict, setup: dict) -> dict:
    """Medians over the measured rounds: of each round's admitted URLs per
    second of its latency, and of the latencies."""
    runs = res["runs"]
    med = statistics.median
    rounds = [x for r in runs for x in r["round_s"]]
    return {
        "urls_per_s": med(u / s for r in runs for u, s in zip(r["round_urls"], r["round_s"])),
        "round_s_p50": med(rounds),
        "state_bytes_per_url": med(r["state_bytes"] / r["seen"] for r in runs),
        "setup_s": sum(setup.values()),
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "graven_spark")):
        print(f"perfbench: no graven_spark package in {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import layers, measure, trace, workloads
    from perfbench.eventlog import counters_by_description, event_log_files, read_events

    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    setup: dict[str, float] = {}
    try:
        t = time.perf_counter()
        spark = start_session(work, bool(args.trace))
        setup["session.start_s"] = time.perf_counter() - t
        try:
            sc = spark.sparkContext
            jvm_pid = sc._gateway.proc.pid
            tracer = trace.Tracer(sc, enabled=bool(args.trace))
            ctx = workloads.Ctx(spark, work, args.seed, args.seconds, tracer, setup, {})
            if args.workload == "crawl_polite":
                res = workloads.crawl_polite(ctx, jvm_pid)
            else:
                res = workloads.schedule_mega(ctx, jvm_pid)
            info = settings(spark, ctx, args)
        finally:
            stop_session(spark)
        units = metric_units("end_to_end")
        metrics = e2e_metrics(res, setup) if res["runs"] else dict.fromkeys(units, 0.0)
        rounds = [x for r in res["runs"] for x in r["round_s"]]
        tail = measure.tail_percentile(rounds)
        report = {"settings": info, "setup": setup,
                  "fail_frac": res["failed"] / res["attempted"],
                  "round_samples": len(rounds),
                  # the highest percentile with >= 10 samples beyond it, if any
                  "round_s_tail": tail and {"p": tail,
                                            "s": measure.percentile(rounds, tail)},
                  "runs": res["runs"], "errors": res["errors"][:20],
                  # sampled in traced runs only: sampling slows the JVM
                  "peak_rss_mb": res["peak_rss"] / 2**20 if args.trace else None,
                  "e2e": metrics}
        if args.trace:
            cmap = layers.span_counters(counters_by_description(
                read_events(event_log_files(os.path.join(work, "events")))))
            split = res["split"]
            report["replay"] = res.get("replay")
            report["spans"] = layers.span_table(tracer, cmap)
            report["counts"] = dict(tracer.counts)
            if split is not tracer:
                report["replay_spans"] = layers.span_table(split, cmap)
            metrics = layers.layer_metrics(
                args.workload == "crawl_polite", tracer, split, cmap, setup,
                metrics["urls_per_s"], report["peak_rss_mb"])
            units = metric_units("per_layer")
            out_dir = os.path.join(ROOT, ".perfbench_out")
            os.makedirs(out_dir, exist_ok=True)
            tracer.dump(os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace.json"),
                        {"replay": split.spans if split is not tracer else None})
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))  # only when no other run is using it
        except OSError:
            pass

    print(json.dumps({"report": report}, default=str))
    print(json.dumps({
        "correct": res["failed"] == 0 and bool(res["runs"]),
        "attempted": res["attempted"], "failed": res["failed"],
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


def metric_units(kind: str) -> dict:
    """{metric name: unit} of BENCHMARK.json's ``end_to_end`` or ``per_layer``."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


if __name__ == "__main__":
    sys.exit(main())
