#!/usr/bin/env python3
"""The repository benchmark: one command, two workloads.

    python3 perfbench/run.py --workload serve_ingest --seed 1 --seconds 16 --trace 0

Run from the root of a checkout. Workloads (why each was chosen is in
``BENCHMARK.json``; what each runs is in its module's docstring):

- ``serve_ingest`` (``service.py``): a backlog drained through the
  streaming topology, REST queries over the view with the stream idle,
  then a live writer with REST reads beside it.
- ``corpus_batch`` (``corpus.py``): eight LLM-data rows of
  ``inventory`` over a generated corpus, run once each; ``--seconds``
  does not lengthen this workload.

Every workload reports the same gated end-to-end metrics:

- ``latency_p50_ms``: serve_ingest, open-loop REST latency timed from
  each request's due time while the stream idles; corpus_batch, the
  time of one row from input to fetched result.
- ``throughput_per_s``: serve_ingest, backlog events drained per
  second through the streaming topology and the view upsert;
  corpus_batch, rows completed per second.
- ``setup_s``: JVM start, the median of three input generations, and
  warm-up.

The per-layer ``op.*`` and ``spark.*`` metrics describe the operation
behind ``latency_p50_ms`` (a REST query, a corpus row). Timings that
only one workload has (tails, freshness, micro-batch phases, per-row
build and collect) are in the record line, not in the contract.

Inputs come only from ``--seed``. ``--trace 0`` measures the
end-to-end metrics with no instrumentation; ``--trace 1`` wraps the
program's layer entry points and reports per-layer metrics. Every
correctness check runs after the timed phases. The program runs on its
own ``session.get_spark`` defaults.

Output: one JSON line with the full record (host stamps, every metric
under its own name, checks, the per-phase CPU/wall ratio), then, as
the last line, ``{"correct", "attempted", "failed", "metrics"}`` with
the metrics ``BENCHMARK.json`` lists for the trace mode. The record
and, in the traced run, the spans are also written under
``.perfbench_out/``. Work files live under ``.perfbench_work/`` and
are removed at exit. Tests of the pure helpers:
``python -m pytest perfbench/tests``.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import sys
import tempfile
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORKLOADS = {
    "serve_ingest": "perfbench.service",
    "corpus_batch": "perfbench.corpus",
}


def parse(argv: list[str] | None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def isolate(work: Path) -> None:
    """Keep every temporary file of Python, Spark and the JVM inside the
    checkout."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = (
        os.environ.get("JAVA_TOOL_OPTIONS", "")
        + f" -Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    ).strip()


def stop_spark(spark) -> None:
    """Stop the session, then the gateway JVM, and wait for it."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw else None
    if gw is not None:
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


def contract_metrics(spec: dict, trace: bool, res) -> tuple[dict, list[str]]:
    """The metrics ``BENCHMARK.json`` lists for this trace mode, in its
    order and units. A layer the workload does not exercise (the other
    workload's counters) reads 0; those names are returned too."""
    out, missing = {}, []
    for m in spec["per_layer" if trace else "end_to_end"]:
        src = res.layers if trace else res.e2e
        v = src.get(m["name"])
        if v is None:
            missing.append(m["name"])
            v = 0
        out[m["name"]] = {"value": v, "unit": m["unit"]}
    return out, missing


def main(argv: list[str] | None = None) -> int:
    args = parse(argv)
    if not (ROOT / "kafka_streams_pipeline_spark" / "__init__.py").is_file():
        print("perfbench: the program package is not in this checkout", file=sys.stderr)
        return 2
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    work = ROOT / ".perfbench_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    out_dir = ROOT / ".perfbench_out"
    out_dir.mkdir(exist_ok=True)
    isolate(work)
    sys.path.insert(0, str(ROOT))

    from perfbench import sparkstats
    from perfbench.common import Ctx
    from perfbench.trace import Tracer

    host = {
        "nproc": sparkstats.nproc(),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "loadavg_start": sparkstats.loadavg(),
        "foreign_jvms_start": sparkstats.foreign_jvms(None),
    }
    t0 = time.perf_counter()
    from kafka_streams_pipeline_spark.session import get_spark

    spark = get_spark(app_name="perfbench")
    jvm_start_s = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    try:
        probe = sparkstats.ProcessProbe(spark)
        host["spark_conf"] = sparkstats.spark_conf(spark)
        ctx = Ctx(spark=spark, seed=args.seed, seconds=args.seconds,
                  work=str(work), nproc=host["nproc"],
                  jvm_start_s=jvm_start_s, probe=probe,
                  tracer=Tracer() if args.trace else None)
        gc0 = sparkstats.jvm_gc_ms(spark)
        res = importlib.import_module(WORKLOADS[args.workload]).run(ctx)
        res.layers["process.peak_rss_mb"] = probe.peak_rss_mb()
        # less the collections a workload forces between timed operations
        res.layers["process.jvm_gc_ms"] = (sparkstats.jvm_gc_ms(spark) - gc0
                                           - res.info.get("forced_gc_ms", 0.0))
        host["loadavg_end"] = sparkstats.loadavg()
        host["foreign_jvms_end"] = sparkstats.foreign_jvms(probe.jvm_pid)
        host["phases"] = ctx.phases
    finally:
        stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    metrics, unexercised = contract_metrics(spec, bool(args.trace), res)
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "host": host, "jvm_start_s": jvm_start_s,
        "attempted": res.attempted, "failed": res.failed, "correct": res.correct,
        "checks": res.checks, "metrics": res.named, "e2e": res.e2e,
        "layers": res.layers, "unexercised_layers": unexercised, "info": res.info,
    }
    (out_dir / f"{tag}.json").write_text(json.dumps(record, indent=1, default=str))
    if ctx.tracer is not None:
        ctx.tracer.write(str(out_dir / f"{tag}-spans.jsonl"))
    print(json.dumps(record, default=str))
    print(json.dumps({"correct": res.correct, "attempted": res.attempted,
                      "failed": res.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
