#!/usr/bin/env python3
"""Benchmark harness for pdf_extract_spark.

    python3 perfbench/run.py --workload spans --seed 1 --seconds 10 --trace 0

Runs one workload in this process against a local Spark session sized to
the machine (``local[nproc]``, ``SPARK_GRAFT_CPUS=nproc``): builds the
session and warms the Python workers (timed as ``setup_s``), generates
and caches the seeded inputs, runs one checked warm pass, then repeats
the workload for ``--seconds`` and reports the median. Outputs are
checked against independent oracles outside the timed region. The last
line of stdout is one JSON object: with ``--trace 0`` the end-to-end
metrics, with ``--trace 1`` the per-layer metrics of a separate traced
run (spans are written to ``.perfbench_out/`` when it ends).

Run it from the repository root; it reads and writes only below it.
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
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
OUT = ROOT / ".perfbench_out"

MIN_ITERATIONS = 3
WARM_DOCS = 64
DRIVER_MEMORY = "2g"


def metric_units() -> tuple[dict[str, str], dict[str, str]]:
    """(end-to-end, per-layer) metric name -> unit, from BENCHMARK.json."""
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return tuple({m["name"]: m["unit"] for m in spec[key]}
                 for key in ("end_to_end", "per_layer"))


def log(msg: str) -> None:
    print(f"perfbench: {msg}", flush=True)


def parse_args(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("spans", "bytes"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def configure(work: Path) -> int:
    """Size Spark to the CPUs this process may use, and keep every
    temporary file below ``work``. Must run before pyspark starts."""
    cores = len(os.sched_getaffinity(0))
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEMORY,
        "SPARK_LOCAL_DIRS": str(tmp),
        "TMPDIR": str(tmp),
    })
    os.environ.pop("SPARK_GRAFT_MASTER", None)
    return cores


def start_session(work: Path, cores: int, tracer):
    """build_spark, which also ships the package zip. Returns (spark, s)."""
    from pdf_extract_spark import build_spark

    from workloads import TASKS_PER_CORE

    t0 = time.perf_counter()
    with tracer.span("session.build_spark"):
        spark = build_spark(
            app_name="perfbench", master=f"local[{cores}]",
            shuffle_partitions=TASKS_PER_CORE * cores,
            extra_conf={
                # -UsePerfData: no hsperfdata file in the system temp dir
                "spark.driver.extraJavaOptions":
                    f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData",
                "spark.sql.warehouse.dir": str(work / "warehouse"),
                "spark.ui.showConsoleProgress": "false",
            },
        )
    return spark, time.perf_counter() - t0


def warm_session(spark, cores: int, tracer) -> float:
    """The first extraction, which forks the Python workers; returns s."""
    from pdf_extract_spark import generator
    from pdf_extract_spark.pipeline import run_extraction
    from pdf_extract_spark.schemas import DOCUMENTS

    from workloads import TASKS_PER_CORE, noop

    docs = [generator.make_document(i, seed=0) for i in range(WARM_DOCS)]
    t0 = time.perf_counter()
    with tracer.span("session.warm"):
        noop(run_extraction(spark.createDataFrame(docs, schema=DOCUMENTS),
                            TASKS_PER_CORE * cores))
    return time.perf_counter() - t0


def stop_session(spark) -> None:
    """Stop Spark, end the JVM it launched and wait for every process
    this run started (the JVM and the pyspark workers below it)."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    import probes

    deadline = time.monotonic() + 30
    while probes.descendants() and time.monotonic() < deadline:
        time.sleep(0.2)
    for pid in probes.descendants():
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    while probes.descendants() and time.monotonic() < deadline + 10:
        time.sleep(0.1)


def measure(wl, seconds: float, tracer, traced: bool) -> dict[bool, list[float]]:
    """Repeat the workload until ``seconds`` have passed and at least
    MIN_ITERATIONS have run; return docs/s per iteration, keyed by
    whether it was traced. A traced run alternates untraced and traced
    iterations (at least two of each), so the two rates it compares share
    the same machine conditions."""
    rates: dict[bool, list[float]] = {False: [], True: []}
    start = time.perf_counter()
    k = 0
    while True:
        on = traced and k % 2 == 1
        tracer.enabled = on
        with tracer.span("iteration"):
            t0 = time.perf_counter()
            docs = wl.iteration()
            rates[on].append(docs / (time.perf_counter() - t0))
        k += 1
        least = min(len(rates[False]), len(rates[True])) if traced else k
        if time.perf_counter() - start >= seconds and least >= MIN_ITERATIONS - traced:
            break
    tracer.enabled = traced
    return rates


def window_metrics(ctx, cursor: set, wall_s: float, iterations: int) -> dict[str, float]:
    """Engine counters over the timed window, per iteration."""
    stages = ctx.stages.since(cursor)
    run_ms = sum(s["run_ms"] for s in stages)
    return {
        "spark.shuffle_write_mb":
            sum(s["shuffle_write_b"] for s in stages) / 2**20 / iterations,
        "spark.gc_frac": sum(s["gc_ms"] for s in stages) / run_ms if run_ms else 0.0,
        "spark.tasks": sum(s["tasks"] for s in stages) / iterations,
        "pipeline.core_busy_frac": run_ms / 1e3 / (wall_s * ctx.cores),
    }


def kernel_metrics(seed: int, tracer) -> dict[str, float]:
    """The Python kernels timed in this process on fixed-size batches:
    the extraction kernel on 512 documents (one Arrow batch), the PDF and
    HTML parsers on 48 payloads each."""
    import pandas as pd

    from pdf_extract_spark import generator
    from pdf_extract_spark.operators.extract import extract_spans
    from pdf_extract_spark.sources import htmlgen, htmlparse, pdfgen, pdfparse

    from workloads import PDF_VARIANTS, stratified_indices, timed

    docs = [generator.make_document(i, seed) for i in stratified_indices(512, seed)]
    batch = pd.Series([d["spans"] for d in docs])
    n_spans = sum(len(d["spans"]) for d in docs)
    with tracer.span("extract.kernel"):
        kernel_s = timed(lambda: extract_spans.func(batch))
    pdfs = [pdfgen.build_pdf(i, seed, variant=PDF_VARIANTS[i % 3]) for i in range(48)]
    with tracer.span("pdfparse.parse_pdf"):
        pdf_s = timed(lambda: [pdfparse.parse_pdf(b) for b in pdfs])
    pages = [htmlgen.build_html(i, seed, variant=htmlgen.VARIANTS[i % 3])
             for i in stratified_indices(48, seed)]
    with tracer.span("htmlparse.html_to_spans"):
        html_s = timed(lambda: [htmlparse.html_to_spans(b) for b in pages])
    return {
        "extract.kernel_us_per_span": kernel_s / n_spans * 1e6,
        "pdfparse.us_per_doc": pdf_s / len(pdfs) * 1e6,
        "htmlparse.us_per_doc": html_s / len(pages) * 1e6,
    }


def run(args: argparse.Namespace, work: Path) -> dict:
    cores = configure(work)
    sys.path.insert(0, str(ROOT))
    from pyspark import cloudpickle

    import probes
    import workloads

    # executor-side input generators refer to helpers in this module,
    # which the Python workers cannot import
    cloudpickle.register_pickle_by_value(workloads)

    run_id = f"{args.workload}-{args.seed}-{os.getpid()}"
    tracer = probes.Tracer(run_id, enabled=bool(args.trace))
    stamp = probes.stamp(ROOT, args.workload, args.seed, cores)
    log(f"stamp {json.dumps(stamp, sort_keys=True)}")

    spark, start_s = start_session(work, cores, tracer)
    try:
        warm_s = warm_session(spark, cores, tracer)
        ctx = workloads.Context(spark, args.seed, cores, work, tracer)
        wl = workloads.WORKLOADS[args.workload](ctx)
        with tracer.span("prepare"):
            wl.prepare()
        with tracer.span("warmup"):
            wl.warmup()
            wl.iteration()  # settle: the checked pass alone left a warm-up trend

        cursor = ctx.stages.mark()
        t0 = time.perf_counter()
        rates = measure(wl, args.seconds, tracer, bool(args.trace))
        wall_s = time.perf_counter() - t0
        iterations = len(rates[False]) + len(rates[True])
        window = window_metrics(ctx, cursor, wall_s, iterations)
        peak_mb = probes.peak_rss_mb()

        with tracer.span("check"):
            wl.check()
        attempted, failed = wl.attempted, wl.failed
        layers: dict[str, float] = {}
        if args.trace:
            with tracer.span("layers"):
                own = wl.layers()
                for cls in workloads.LAYER_SWEEP:
                    if cls is not type(wl):
                        sub, sub_layers = workloads.sweep(cls, ctx)
                        layers.update(sub_layers)
                        attempted += sub.attempted
                        failed += sub.failed
                layers.update(own)  # the traced workload's own numbers win
                layers.update(kernel_metrics(args.seed, tracer))
        wl.close()
    finally:
        stop_session(spark)

    docs_per_s = statistics.median(rates[False])
    log(f"{args.workload}: {iterations} timed iterations in {wall_s:.1f} s "
        f"(docs/s {', '.join(f'{r:.1f}' for r in rates[False])}); "
        f"failed_frac {failed / max(attempted, 1):.6f} fraction "
        f"({failed} of {attempted} documents)")

    if args.trace:
        traced_rate = statistics.median(rates[True])
        values = {
            "session.start_s": start_s, "session.warm_s": warm_s,
            **window, **layers,
            "trace.untraced_docs_per_s": docs_per_s,
            "trace.traced_docs_per_s": traced_rate,
            "trace.overhead_frac": 1.0 - traced_rate / docs_per_s,
        }
        tracer.dump(OUT / f"trace-{run_id}.json", stamp)
        units = metric_units()[1]
    else:
        values = {"docs_per_s": docs_per_s, "setup_s": start_s + warm_s,
                  "peak_rss_mb": peak_mb}
        units = metric_units()[0]
    metrics = {k: {"value": float(values[k]), "unit": units[k]} for k in units}
    for k, m in metrics.items():
        log(f"{args.workload} {k} = {m['value']:.6g} {m['unit']}")
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": metrics}


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    if not (ROOT / "pdf_extract_spark" / "__init__.py").is_file():
        print(f"perfbench: no pdf_extract_spark package under {ROOT}; "
              "run from a full checkout of the repository", file=sys.stderr)
        return 2
    work = OUT / f"work-{args.workload}-{args.seed}-{os.getpid()}"
    try:
        result = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
