"""``corpus_batch``: eight LLM-data rows of ``inventory`` back to back
over a seeded ``documents``/``embeddings`` pair. Dedup, similarity,
text and graph operators do the work; serving and streaming idle.

The rows read only those two tables, written in the fixture schema,
with stated near-duplicate and boilerplate shares. Each row is built
through ``inventory.QUERIES`` and fetched with ``toPandas``, as
``tools/check_oracle.py`` fetches it. The rows run once, in one pass
in a fresh JVM, so the pass includes the per-plan code generation a
batch job pays; the pass is the measurement and ``--seconds`` does not
lengthen it. The heaps are cleaned before each row, outside its
timing, and ``batch_wall_s`` is the sum of the rows' times. Every row
is hash-compared with its oracle twin in DuckDB.
In the traced run every row is traced, so its tracer cost is reported
as the hooks' own time (``trace.hook_ms_per_op``), not as traced minus
untraced.
"""

from __future__ import annotations

import ast
import contextlib
import gc
import hashlib
import math
import os
import time

from perfbench import gen, sparkstats, stats
from perfbench.common import Ctx, Result, ms
from perfbench.trace import patched

ROWS = (
    "q_dedup_minhash",
    "q_dedup_hamming",
    "q_dedup_prefix_join",
    "q_sim_topk",
    "q_pq_adc_topk",
    "q_boilerplate_scrub",
    "q_bpe_train",
    "q_triangle_count",
)
N_DOCS = 300
N_VECS = 300
NEAR_DUP_SHARE = 0.2
BOILERPLATE_SHARE = 0.3
SETUP_REPS = 3


def oracle_canon(root: str) -> dict:
    """``canon`` and ``value_hash`` exactly as ``tools/check_oracle.py``
    defines them, taken from its source without importing it (importing
    it puts a fixed path on ``sys.path`` and imports
    ``__spark_entry__``)."""
    path = os.path.join(root, "tools", "check_oracle.py")
    with open(path) as f:
        tree = ast.parse(f.read(), path)
    keep = [n for n in tree.body
            if isinstance(n, ast.FunctionDef) and n.name in ("canon", "value_hash")]
    ns: dict = {"hashlib": hashlib, "math": math}
    exec(compile(ast.Module(keep, type_ignores=[]), path, "exec"), ns)
    return ns


def exact_twins() -> dict[str, str]:
    """Oracle twins keyed by the n-gram text itself, for the rows whose
    Spark side uses a 64-bit hash only as a grouping key.

    Their registered oracles key n-grams by a 32-bit md5 prefix
    (``functions.hashing.HEX_WIDTH``), so on corpora of tens of
    thousands of distinct n-grams two n-grams can share a key and the
    oracle, not the operator, goes wrong. Built from the same oracle
    builders with the hash replaced by the identity."""
    from kafka_streams_pipeline_spark.operators import dedup, text

    def identity(expr: str, seed: int | None = None) -> str:
        return expr if seed is None else f"('{seed}:' || {expr})"

    with patched(dedup, "_duck_hash", identity):
        return {
            "q_boilerplate_scrub": text.boilerplate_scrub_oracle(),
            "q_dedup_prefix_join": dedup.prefix_jaccard_join_oracle(),
        }


def frame_hash(ns: dict, columns: list[str], rows) -> str:
    """Order-insensitive hash with columns sorted by lower-cased name,
    as ``tools/check_oracle.py`` compares them."""
    idx = sorted(range(len(columns)), key=lambda i: columns[i].lower())
    return ns["value_hash"]([[r[i] for i in idx] for r in rows])


def run(ctx: Ctx) -> Result:
    from kafka_streams_pipeline_spark import inventory

    res = Result()
    spark = ctx.spark
    data_dir = ctx.dir("corpus")
    reps = []
    for _ in range(SETUP_REPS):
        t0 = time.perf_counter()
        c = gen.corpus(ctx.seed, N_DOCS, N_VECS, NEAR_DUP_SHARE, BOILERPLATE_SHARE)
        gen.write_corpus(c, data_dir)
        reps.append(time.perf_counter() - t0)
    with sparkstats.Phase(ctx.probe, "warmup", ctx.phases):
        t0 = time.perf_counter()
        spark.range(1000).selectExpr("sum(id)").collect()
        warm_s = time.perf_counter() - t0
    setup_s = ctx.jvm_start_s + stats.p50(reps) + warm_s

    tr = ctx.tracer
    walls: dict[str, float] = {}
    results: dict[str, object] = {}
    frames: dict[str, object] = {}
    failures: dict[str, str] = {}
    forced_gc_ms = 0.0
    with patched(inventory, "QUERIES", {
        r: tr.wrap(inventory.QUERIES[r], "inventory.build") for r in ROWS
    }) if tr else contextlib.nullcontext():
        with sparkstats.Phase(ctx.probe, "batch", ctx.phases):
            for r in ROWS:
                forced_gc_ms += _clean_heap(spark)
                if tr is not None:
                    sparkstats.set_job_group(spark, r)
                t0 = time.perf_counter()
                try:
                    with tr.op(r, "corpus.row") if tr else contextlib.nullcontext():
                        df = inventory.QUERIES[r](spark, data_dir)
                        with tr.span("corpus.collect") if tr else contextlib.nullcontext():
                            results[r] = df.toPandas()
                except Exception as e:  # counted as a failed row
                    failures[r] = repr(e)[:300]
                    continue
                walls[r] = time.perf_counter() - t0
                if tr is not None:
                    frames[r] = df
            if tr is not None:
                sparkstats.set_job_group(spark, None)

    res.attempted = len(ROWS)
    res.failed = len(failures)
    batch_wall = sum(walls.values())
    throughput = len(walls) / batch_wall
    res.e2e = {
        "latency_p50_ms": ms(stats.p50(list(walls.values()) + [math.inf] * len(failures))),
        "throughput_per_s": throughput,
        "setup_s": setup_s,
    }
    res.named.update({
        "batch_wall_s": {"value": batch_wall, "unit": "s", "note": "one pass, fresh JVM"},
        "row_p50_ms": {"value": res.e2e["latency_p50_ms"], "unit": "ms",
                       "samples": len(ROWS)},
        "rows_per_s": {"value": throughput, "unit": "rows/s"},
        "setup_s": {"value": setup_s, "unit": "s"},
    })
    res.info.update({
        "setup_reps_s": reps, "warmup_s": warm_s, "docs": N_DOCS, "vectors": N_VECS,
        "near_dup_share": NEAR_DUP_SHARE, "boilerplate_share": BOILERPLATE_SHARE,
        "row_walls_s": walls, "failures": failures, "forced_gc_ms": forced_gc_ms,
    })
    if tr is not None:
        res.layers.update(_layers(ctx, frames, {r: len(p) for r, p in results.items()}))

    with sparkstats.Phase(ctx.probe, "checks", ctx.phases):
        _check_oracles(res, inventory, data_dir, results)
    return res


def _clean_heap(spark) -> float:
    """Untimed, before each row: drop cached frames and collect both
    heaps, as ``bench.py`` does between its timed queries, so a row
    does not pay for the garbage of the rows before it. Returns the
    JVM collection time spent."""
    gc0 = sparkstats.jvm_gc_ms(spark)
    spark.catalog.clearCache()
    gc.collect()
    spark.sparkContext._jvm.System.gc()
    return sparkstats.jvm_gc_ms(spark) - gc0


def _check_oracles(res: Result, inventory, data_dir: str, results: dict) -> None:
    """Hash-compare every row's result with its oracle twin in DuckDB."""
    import duckdb

    ns = oracle_canon(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(data_dir, t + '.parquet')}')")
    exact = exact_twins()
    for r in ROWS:
        if r not in results:
            res.check(f"oracle.{r}", False, error="row failed")
            continue
        pdf = results[r]
        got = frame_hash(ns, list(pdf.columns), pdf.itertuples(index=False, name=None))
        detail = {}
        for name, sql in (("registered", inventory.ORACLES[r]), ("exact", exact.get(r))):
            if sql is None:
                continue
            odf = con.execute(sql).df()
            want = frame_hash(ns, list(odf.columns), odf.itertuples(index=False, name=None))
            detail[name] = got == want and len(pdf) == len(odf)
        res.check(f"oracle.{r}", detail.get("exact", detail["registered"]),
                  rows=len(pdf), **{f"{k}_twin_match": v for k, v in detail.items()})
    con.close()


def _layers(ctx: Ctx, frames: dict[str, object], rows: dict[str, int]) -> dict:
    tr = ctx.tracer
    totals = sparkstats.StatusStore(ctx.spark).totals(list(frames))
    build, collect, wall = {}, {}, {}
    for s in tr.spans:
        if s.op_id not in frames:
            continue
        if s.name == "inventory.build":
            build[s.op_id] = s.duration
        elif s.name == "corpus.collect":
            collect[s.op_id] = s.duration
        elif s.name == "corpus.row":
            wall[s.op_id] = s.duration
    ops = list(frames)
    out = {
        "op.build_ms_p50": ms(stats.p50([build[o] for o in ops])),
        "op.execute_ms_p50": ms(stats.p50([collect[o] for o in ops])),
        "op.self_ms_p50": ms(stats.p50([wall[o] - build[o] - collect[o] for o in ops])),
        "spark.plan_ms_p50": stats.p50([sparkstats.plan_phases_ms(frames[o]) for o in ops]),
        **sparkstats.per_op(sparkstats.merge(list(totals.values())), len(ops)),
        "trace.ops": len(ops),
        "trace.hook_ms_per_op": ms(tr.hook_s(ops)) / max(1, len(ops)),
    }
    for r in ROWS:
        if r not in frames:
            continue
        t = totals[r]
        out.update({
            f"corpus.{r}.build_s": build[r],
            f"corpus.{r}.collect_s": collect[r],
            f"corpus.{r}.jobs": t["jobs"],
            f"corpus.{r}.tasks": t["tasks"],
            f"corpus.{r}.executor_cpu_s": t["cpu_ms"] / 1000.0,
            f"corpus.{r}.shuffle_bytes": t["shuffle_bytes"],
            f"corpus.{r}.spill_bytes": t["spill_bytes"],
            f"corpus.{r}.result_rows": rows[r],
        })
    return out
