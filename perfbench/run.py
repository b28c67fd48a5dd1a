"""Benchmark of the iresearch_spark engine: one command, three workloads.

    python3 perfbench/run.py --workload interactive --seed 1 --seconds 16 --trace 0

``--workload`` is ``interactive``, ``batch``, ``ingest`` or ``all`` (the
three in one process). Spark runs at ``local[nproc]``, with nproc read from
the CPU affinity mask at run time. ``--trace 0`` is the measured run and
prints the end-to-end metrics; ``--trace 1`` is the traced run, with spans,
Spark job groups and the Spark event log on, and prints the per-layer
metrics. With ``--workload all --trace 1`` the traced pass follows an
untraced one in the same process and the tracing overhead is reported.

The pages table is a fixed corpus; ``--seed`` draws the queries, batch plans
and deleted keys. An untraced ``interactive`` or ``batch`` run keeps the
pages and the index it built in ``.perfbench_run/cache/``, keyed by the
source of the engine and of this benchmark, and later such runs open them
instead of building again. Traced and ``ingest`` runs always build.

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``. Everything the run
writes stays under ``.perfbench_run/`` in the checkout. See README.md.
"""

from __future__ import annotations

import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CORPUS_SEED = 1

END_TO_END = {"request_p50_ref_ratio": "ratio", "setup_s": "s"}
PER_LAYER_UNITS = {
    "analysis.tokens_per_s": "1/s",
    "builder.segments_s": "s", "builder.postings_s": "s",
    "builder.commit_s": "s", "builder.segment_task_s_p50": "s",
    "builder.segment_task_s_max": "s", "builder.spark_jobs": "count",
    "codec.decode_ns_per_posting": "ns", "codec.decode_block_ns_per_posting": "ns",
    "codec.encode_ns_per_posting": "ns", "codec.bytes_per_posting": "B",
    "reader.open_ms": "ms", "reader.vocab_load_ms": "ms", "reader.term_stats_us": "us",
    "consolidate.postings_s": "s", "consolidate.norms_s": "s", "consolidate.docs_s": "s",
    "consolidate.bytes_rewritten": "B", "deletes.spark_jobs": "count",
    "prepare.compile_ms": "ms", "prepare.expand_ms": "ms", "prepare.scored_terms": "count",
    "spark.jobs_per_search": "count", "spark.stages_per_search": "count",
    "spark.tasks_per_search": "count", "spark.jobs_per_execute": "count",
    "spark.job_ms_per_search": "ms", "spark.task_run_ms_per_search": "ms",
    "search.driver_ms": "ms", "spark.input_bytes_per_search": "B",
    "spark.shuffle_bytes_per_search": "B", "spark.kernel_task_skew": "ratio",
    "trace.request_p50_ms": "ms", "trace.ref_p50_ms": "ms",
}
# printed, not in the result: a fresh build aggregates the term dictionary
# inside its postings stage, so this stage reads 0 there
DIAGNOSTIC_UNITS = {"builder.term_dict_s": "s"}
REPORT_UNITS = {
    "request_p50_ms": "ms", "ref_p50_ms": "ms",
    "search_p50_ms": "ms", "searches_per_s": "1/s", "batch_p50_ms": "ms", "batch_plans_per_s": "1/s",
    "build_docs_per_s": "1/s", "append_docs_per_s": "1/s", "delete_p50_ms": "ms",
    "reopen_p50_ms": "ms", "consolidate_s": "s", "index_bytes_per_text_byte": "ratio",
    "error_rate": "ratio", "batch_plans": "count", "cycles": "count",
}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", choices=("interactive", "batch", "ingest", "all"), default="all")
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=16.0, help="measured loop length")
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--pages", type=int, default=5_000, help="pages in the built corpus")
    p.add_argument("--segments", type=int, default=8, help="segments per build")
    return p.parse_args(argv)


def git_sha() -> str:
    try:
        out = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True, text=True, timeout=10
        )
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"
    return out.stdout.strip() if out.returncode == 0 else "unknown"


def cache_dir(args, nproc: int) -> str:
    """Where the pages and index of this engine source, benchmark source and
    corpus shape are kept between runs."""
    h = hashlib.sha1()
    for d in ("iresearch_spark", "perfbench"):
        for f in sorted(glob.glob(os.path.join(ROOT, d, "**", "*.py"), recursive=True)):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    key = f"{h.hexdigest()[:16]}-p{args.pages}-s{args.segments}-n{nproc}"
    return os.path.join(ROOT, ".perfbench_run", "cache", key)


def corpus(home: str, args, nproc: int):
    """The pages table under ``home`` (written unless it is already there)
    and its token ranks."""
    import pages

    path = os.path.join(home, "pages")
    if not os.path.isdir(path):
        tmp = f"{path}.{os.getpid()}"
        pages.write_pages(tmp, CORPUS_SEED, 0, args.pages, files=nproc)
        os.rename(tmp, path)
    return path, pages.page_ranks(CORPUS_SEED, 0, args.pages)


# --------------------------------------------------------------------------
# Spark session lifetime
# --------------------------------------------------------------------------


def start_spark(work: str, nproc: int, event_log: str | None):
    """A ``local[nproc]`` session whose scratch space lies under ``work``;
    ``get_spark`` then ships the package to the workers."""
    from pyspark.sql import SparkSession

    b = (
        SparkSession.builder.master(f"local[{nproc}]").appName("perfbench")
        .config("spark.driver.memory", "2g")
        .config("spark.local.dir", os.path.join(work, "spark-local"))
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config("spark.ui.showConsoleProgress", "false")
    )
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        b = (
            b.config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.dir", "file://" + event_log)
            .config("spark.eventLog.compress", "false")
            .config("spark.eventLog.rolling.enabled", "false")
        )
    b.getOrCreate()
    from iresearch_spark.session import get_spark

    spark = get_spark("perfbench", master=f"local[{nproc}]", shuffle_partitions=nproc)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and the JVM it launched, and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


# --------------------------------------------------------------------------
# one pass over the workloads in one session
# --------------------------------------------------------------------------


def run_pass(args, names, work: str, pages_dir: str, nproc: int, ranks, trace: bool,
             cache: str | None) -> dict:
    import probes
    from tracing import Tracer, median
    from workloads import WORKLOADS, Run, reference_job

    log_dir = os.path.join(work, "eventlog") if trace else None
    t0 = time.monotonic()
    spark = start_spark(work, nproc, log_dir)
    # the first job that needs the Python workers starts them: part of
    # Spark's start-up, not of the engine's first set-up or build
    reference_job(spark)()
    phases = {"spark_start_s": time.monotonic() - t0}
    out = {}
    try:
        for name in names:
            wdir = os.path.join(work, name)
            os.makedirs(wdir)
            run = Run(name, spark, args, wdir, Tracer(trace), ranks, pages_dir, cache or wdir)
            t0 = time.monotonic()
            res = WORKLOADS[name](run)
            phases[f"{name}_s"] = time.monotonic() - t0
            out[name] = {"run": run, "res": res, "probes": None}
            if trace:
                out[name]["probes"] = probes.Probes(run)
                out[name]["probes"].collect(res["reader"], with_writes=name != "ingest")
                phases[f"{name}_probes_s"] = time.monotonic() - t0 - phases[f"{name}_s"]
    finally:
        t0 = time.monotonic()
        stop_spark(spark)
        phases["spark_stop_s"] = time.monotonic() - t0
        print("# phases " + json.dumps({k: round(v, 2) for k, v in phases.items()}))
        for name in names:  # keep spans and event logs, drop the indexes
            shutil.rmtree(os.path.join(work, name), ignore_errors=True)
    for name, o in out.items():
        run = o["run"]
        lat = o["res"]["latencies"]
        # no latency when every request failed; the result then reads correct=false
        o["metrics"] = {"request_p50_ref_ratio": median(lat) / median(run.ref_times)} if lat else {}
        o["metrics"]["setup_s"] = median(run.setup_times)
        if lat:
            run.report["request_p50_ms"] = median(lat) * 1e3
            run.report["ref_p50_ms"] = median(run.ref_times) * 1e3
        if trace:
            o["probes"].from_event_log(log_dir, lat)
            run.tracer.write(os.path.join(work, f"spans-{name}.jsonl"))
    return out


def print_env(args, nproc: int) -> None:
    import pyspark

    import workloads

    env = {
        "nproc": nproc, "master": f"local[{nproc}]", "pyspark": pyspark.__version__,
        "python": sys.version.split()[0], "pages": args.pages, "segments": args.segments,
        "setups": workloads.SETUPS, "corpus_seed": CORPUS_SEED, "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace, "git_sha": git_sha(),
    }
    print("# environment " + json.dumps(env))


def print_pass(tag: str, out: dict) -> None:
    from tracing import median, tail_percentile

    for name, o in out.items():
        run = o["run"]
        lat = [x * 1e3 for x in o["res"]["latencies"]]
        tail = tail_percentile(lat)
        print(f"# {tag} {name}: {len(lat)} requests, attempted {run.attempted}, "
              f"failed {len(run.failures)}")
        for k, v in o["metrics"].items():
            print(f"  {k:34s} {v:14.4f} {END_TO_END[k]}")
        print(f"  {'setup_times_s':34s} " + " ".join(f"{t:.3f}" for t in run.setup_times))
        if tail:
            print(f"  {'request_p%g_ms' % tail[0]:34s} {tail[1]:14.4f} ms")
        report = dict(run.report)
        report["error_rate"] = len(run.failures) / max(1, run.attempted)
        for k, v in report.items():
            print(f"  {k:34s} {v:14.4f} {REPORT_UNITS.get(k, '')}")
        for cat, ms in sorted(run.category_ms.items()):
            print(f"  search.p50_ms.{cat:20s} {median(ms):14.4f} ms (n={len(ms)})")
        if o["probes"] is not None:
            for k, v in sorted(o["probes"].metrics.items()):
                unit = PER_LAYER_UNITS.get(k) or DIAGNOSTIC_UNITS.get(k, "")
                print(f"  {k:34s} {v:14.4f} {unit}")
            for s in o["probes"].skipped:
                print(f"  skipped: {s} is not in the engine")
        for f in run.failures[:20]:
            print(f"  FAILED {f}")


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        import iresearch_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the engine package is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    nproc = len(os.sched_getaffinity(0))
    base = os.path.join(ROOT, ".perfbench_run")
    work = os.path.join(base, f"{args.workload}-{args.seed}-{args.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # every JVM, the spark-submit launcher too, keeps its temp files in the run dir
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={os.environ['TMPDIR']}"
    tempfile.tempdir = None
    names = ["interactive", "batch", "ingest"] if args.workload == "all" else [args.workload]
    print_env(args, nproc)
    t0 = time.monotonic()
    # ingest and the traced run's write probe change the index, and the traced
    # run reads the build's own numbers: those runs build in the run directory
    cache = None if args.trace or args.workload not in ("interactive", "batch") else cache_dir(args, nproc)
    if cache and not os.path.isdir(cache):
        shutil.rmtree(os.path.dirname(cache), ignore_errors=True)  # entries of other sources
        os.makedirs(cache)
    pages_dir, ranks = corpus(cache or work, args, nproc)
    both = bool(args.trace) and args.workload == "all"
    try:
        passes = [run_pass(args, names, work, pages_dir, nproc, ranks,
                           trace=bool(args.trace) and not both, cache=cache)]
        print_pass("traced" if args.trace and not both else "untraced", passes[0])
        if both:
            passes.append(run_pass(args, names, os.path.join(work, "traced"), pages_dir, nproc, ranks,
                                   trace=True, cache=None))
            print_pass("traced", passes[1])
            for name in names:
                over = (passes[1][name]["run"].report["request_p50_ms"]
                        / passes[0][name]["run"].report["request_p50_ms"] - 1)
                print(f"  trace.overhead_pct.{name:18s} {100 * over:14.2f} %")
    finally:
        if args.trace:  # keep the spans and the event log
            for d in ("pages", "tmp", "spark-local"):
                shutil.rmtree(os.path.join(work, d), ignore_errors=True)
        else:
            shutil.rmtree(work, ignore_errors=True)
    attempted = sum(o["run"].attempted for p in passes for o in p.values())
    failed = sum(len(o["run"].failures) for p in passes for o in p.values())

    def key(name, metric):  # several workloads in one result: prefix the workload
        return f"{name}.{metric}" if len(names) > 1 else metric

    if args.trace:
        metrics = {
            key(n, k): {"value": v, "unit": PER_LAYER_UNITS[k]}
            for n, o in passes[-1].items() for k, v in o["probes"].metrics.items()
            if k in PER_LAYER_UNITS
        }
    else:
        metrics = {
            key(n, k): {"value": v, "unit": END_TO_END[k]}
            for n, o in passes[-1].items() for k, v in o["metrics"].items()
        }
    print(f"# total {time.monotonic() - t0:.1f} s")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
