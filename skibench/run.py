"""Ski-pipeline benchmark: one workload, one seed, one line of results.

    python3 skibench/run.py --workload region_small --seed 1 --seconds 10 --trace 0

Run from the repository root.  The run

1. generates the workload's inputs from ``--seed`` (``generate.py``) into
   a scratch directory inside the checkout, before any timing;
2. sets up Spark several times — session start, package ship and one
   warm-up job that counts the workload's inputs — and reports the median
   as ``setup_s``;
3. runs jobs in a closed loop, one at a time from this process, until
   ``--seconds`` have passed (at least one job).  A job runs the
   workload's layers (``layers.WORKLOAD_LAYERS``) from the inputs to
   their last output and is checked against the facts the generator
   knows (``check.py``);
4. prints a detail line (host facts, input sizes, per-job samples,
   digests, ``error_rate``) and, last, the result line: ``job_s``,
   ``setup_s``, ``features_per_s``, ``cpu_s`` and ``peak_rss_mb``.

A job is the first one after set-up, with the JVM's compilers and the
Python workers still cold, as in a batch run of the pipeline.  That job
alone outlasts ``--seconds`` on four cores, so one run measures one job.
Failed or wrong jobs count in ``failed``/``attempted`` (their ratio is
``error_rate``, printed in the detail line because a metric must never
read 0).

With ``--trace 1`` the same jobs run with spans around every layer and an
event log, and the result holds the per-layer metrics instead
(``spans.py``).  Tracing overhead is ``trace.job_s`` minus the untraced
``job_s`` of the same seed, both first jobs after set-up;
``trace.unspanned_s`` is job time outside every layer span.  Every run
also compares its output digest with the first run of the same workload
and seed in this checkout (``_check_digests``), so a traced run whose
outputs differ from the untraced run's fails.

Which layer metric should move which end-to-end metric, and where:

    clustering.*, graph.rounds/.wall_s     job_s, cpu_s        linked_domain
    formatters.*                           job_s, cpu_s        both
    sources.*, viewport.*                  job_s               region_small
    sinks.*.driver_s                       job_s, peak_rss_mb  region_small
    sum of *.jobs                          job_s               both
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUPS = 3
# output digest of the first run of each workload and seed
DIGESTS = os.path.join(ROOT, ".skibench", "digests")
HEAP = "2g"
# local[N]: one core short of the host, at most 4
CORES = max(1, min(4, (os.cpu_count() or 1) - 1))


def _fail(msg: str) -> None:
    print(f"skibench: {msg}", file=sys.stderr)
    sys.exit(2)


def _launch_env(work: str, event_dir: str | None) -> None:
    """Keep every file Spark and the JVM write inside ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    # the package's driver default (8g) is sized for whole regions; these
    # inputs need a fraction, and the host is shared
    os.environ["SPARK_DRIVER_MEMORY"] = HEAP
    # one shuffle partition per core of local[N], not the package's
    # default of 32, which is sized for local[32]
    os.environ["SPARK_SHUFFLE_PARTITIONS"] = str(CORES)
    tempfile.tempdir = None
    confs = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} "
            # a fixed heap: the JVM's share of peak_rss_mb stops depending
            # on when the collector chose to grow the heap
            f"-Xms{HEAP} -XX:-UsePerfData",
    }
    if event_dir:
        os.makedirs(event_dir)
        confs |= {"spark.eventLog.enabled": "true",
                  "spark.eventLog.dir": f"file://{event_dir}",
                  "spark.eventLog.rolling.enabled": "false",
                  "spark.eventLog.compress": "false"}
    args = " ".join(f"--conf '{k}={v}'" for k, v in confs.items())
    os.environ["PYSPARK_SUBMIT_ARGS"] = f"{args} pyspark-shell"


def host_facts() -> dict:
    import pyarrow
    import pyspark
    return {"nproc": os.cpu_count(), "local": f"local[{CORES}]",
            "loadavg_start": os.getloadavg(),
            "spark": pyspark.__version__, "pyarrow": pyarrow.__version__,
            "python": platform.python_version()}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    try:
        import openskidata_processor_spark  # noqa: F401
    except ImportError as e:
        _fail(f"the program is not importable from {ROOT}: {e}")
    import generate
    if args.workload not in generate.WORKLOADS:
        _fail(f"unknown workload {args.workload!r}; "
              f"choose from {sorted(generate.WORKLOADS)}")

    facts_host = host_facts()
    work = os.path.join(ROOT, ".skibench", f"{args.workload}-{args.seed}-"
                        f"{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        result, detail = _run(args, work, generate)
    finally:
        _stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
    facts_host["loadavg_end"] = os.getloadavg()
    detail["host"] = facts_host
    print(json.dumps(detail, sort_keys=True))
    print(json.dumps(result))


def _stop_jvm() -> None:
    """Stop the driver JVM pyspark launched and wait until it has exited;
    it takes its Python workers with it."""
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    if gateway is None:
        return
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()      # the JVM exits when its stdin closes
    gateway.proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None


def _run(args, work: str, generate) -> tuple[dict, dict]:
    event_dir = os.path.join(work, "events") if args.trace else None
    _launch_env(work, event_dir)
    in_dir = os.path.join(work, "inputs")
    facts = generate.generate(args.workload, args.seed, in_dir)

    import check
    import layers as jobs
    import proctree
    from openskidata_processor_spark.session import get_spark

    setups = []
    spark = None
    for k in range(SETUPS):
        if spark is not None:
            spark.stop()
        t0 = time.perf_counter()
        spark = get_spark(f"skibench-{args.workload}", cpus=CORES)
        jobs.warm_up(spark, args.workload, in_dir)
        setups.append(time.perf_counter() - t0)

    tracer = None
    if args.trace:
        import spans
        tracer = spans.Tracer(spark.sparkContext, f"{args.workload}-{args.seed}")
        tracer.install()

    samples, failures, digests = [], [], []
    attempted = 0
    loop_start = time.perf_counter()
    while attempted == 0 or time.perf_counter() - loop_start < args.seconds:
        attempted += 1
        out_dir = os.path.join(work, f"out{attempted}")
        try:
            with proctree.Meter() as meter:
                t0 = time.perf_counter()
                outputs = jobs.run_job(spark, args.workload, in_dir, out_dir,
                                       tracer)
                job_s = time.perf_counter() - t0
            report = check.check(args.workload, outputs, out_dir, facts)
        except Exception as e:      # a failed job counts; the loop goes on
            failures.append(f"{type(e).__name__}: {e}")
            continue
        if report.errors:
            failures.append("; ".join(report.errors[:5]))
            continue
        digests.append(report.digest)
        samples.append({"job_s": job_s, "cpu_s": meter.cpu_s,
                        "peak_rss_mb": meter.peak_rss / 1e6,
                        "features": report.features})
        shutil.rmtree(out_dir, ignore_errors=True)
    if tracer is not None:
        tracer.uninstall()
    digest_check = _check_digests(args.workload, args.seed, digests, failures)

    per_layer = None
    spark.stop()
    if tracer is not None:
        counts, intervals = spans.read_event_logs(event_dir)
        per_layer = spans.layer_metrics(tracer.spans, counts, intervals)
        roots = [s for s in tracer.spans if s["parent"] is None]
        per_layer["trace.job_s"] = statistics.median(
            s["end"] - s["start"] for s in roots)
        # job time no layer span covers: the benchmark's own glue
        per_layer["trace.unspanned_s"] = statistics.median(
            (r["end"] - r["start"]) - sum(
                s["end"] - s["start"] for s in tracer.spans
                if s["parent"] == r["id"]) for r in roots)

    failed = len(failures)
    detail = {"workload": args.workload, "seed": args.seed,
              "trace": args.trace, "sizes": facts.sizes(),
              "setup_samples_s": setups, "samples": samples,
              "digests": sorted(set(digests)), "digest_check": digest_check,
              "failures": failures,
              "error_rate": failed / attempted}
    correct = failed == 0 and bool(samples)
    metrics = {}
    if samples and per_layer is None:
        job_s = statistics.median(s["job_s"] for s in samples)
        metrics = {
            "job_s": (job_s, "s"),
            "setup_s": (statistics.median(setups), "s"),
            "features_per_s": (samples[0]["features"] / job_s, "1/s"),
            "cpu_s": (statistics.median(s["cpu_s"] for s in samples), "s"),
            "peak_rss_mb": (statistics.median(
                s["peak_rss_mb"] for s in samples), "MB"),
        }
    elif per_layer is not None:
        metrics = {k: (v, _unit(k)) for k, v in per_layer.items()}
    result = {"correct": correct, "attempted": attempted, "failed": failed,
              "metrics": {k: {"value": v, "unit": u}
                          for k, (v, u) in metrics.items()}}
    return result, detail


def _check_digests(workload: str, seed: int, digests: list,
                   failures: list) -> str:
    """Compare this run's output digests with each other and with the
    first run of the same workload and seed in this checkout, traced or
    not; a difference is a failure.  One cold job outlasts ``--seconds``,
    so runs, not jobs, give the second digest: an untraced and a traced
    run of one seed must agree."""
    if not digests:
        return "no digest"
    path = os.path.join(DIGESTS, f"{workload}-{seed}")
    state = "compared with the first run"
    if not os.path.exists(path):
        os.makedirs(DIGESTS, exist_ok=True)
        with open(path, "w") as fh:
            fh.write(digests[0])
        state = "recorded as the first run"
    with open(path) as fh:
        first = fh.read()
    if set(digests) != {first}:
        failures.append(f"output digests {sorted(set(digests))} differ from "
                        f"{first} of the first run of this workload and seed")
        return "differs"
    return state


def _unit(name: str) -> str:
    leaf = name.rsplit(".", 1)[1]
    return {"jobs": "count", "stages": "count", "tasks": "count",
            "failed_tasks": "count", "calls": "count", "rounds": "count",
            "capped": "count", "shuffle_mb": "MB"}.get(leaf, "s")


if __name__ == "__main__":
    main()
