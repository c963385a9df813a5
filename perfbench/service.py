"""``serve_ingest``: the live service. The streaming topology keeps the
hourly view fresh and the REST API answers history and snapshot
queries over it.

Set-up generates the seeded stream three times (for the set-up
median), writes the backlog chunks and warms the topology with a short
``availableNow`` replay in separate directories.

1. Catch-up: ``streaming.pipeline.start_file_stream_pipeline`` drains
   a backlog of fixed-size chunks (three weeks of event time, Zipf
   cells) in fixed-size micro-batches; the drain builds the view.
2. Static serving: with the stream idle, the view is served through
   ``serving.serve``; after a short warm-up an open loop sends
   history, interval history and snapshot requests at a fixed rate
   below capacity, then a closed loop of one client per CPU follows.
3. Live: an open-loop writer adds one chunk per tick, with stated
   shares of out-of-order readings and of readings later than the
   grace period, while open-loop reads run at a lower rate against the
   view the stream is upserting. Each read loads the view afresh
   (``sources.sinks.read_view``); a view loaded once never sees later
   commits.

The stream then drains and stops, the store is compacted
(``sources.sinks.compact_view``), and the checks run.
"""

from __future__ import annotations

import calendar
import contextlib
import glob
import json
import os
import re
import time
from collections import Counter
from concurrent.futures import ThreadPoolExecutor

import numpy as np

from perfbench import gen, sparkstats, stats
from perfbench.common import Ctx, Result, ms, store_stats, timing
from perfbench.rest import (RequestMix, RestLayer, check_responses, check_snapshot_cover,
                            rest_layers, warm)
from perfbench.trace import patched

# The sizes and rates below are a synthetic design: no recorded
# traffic and no figure of the source system gives them. The comments
# give the reason for each value.
N_CELLS = 2000  # "thousands of cells", few enough to build in set-up
# 60k backlog events over three weeks of hours: several weeks of view
# to query, drained in a few seconds, three micro-batches of 8 chunks
BACKLOG_CHUNKS = 24
BACKLOG_ROWS = 2500
BACKLOG_HOURS = 21 * 24
FILES_PER_TRIGGER = 8
TRIGGER = "500 milliseconds"
LIVE_ROWS = 250  # with CHUNK_RATE, ~7% of the measured catch-up rate
LIVE_HOURS_PER_CHUNK = 0.25
# small shares that reach the watermark's admit and drop paths in
# every run without making late data the bulk of the load
OUT_OF_ORDER_SHARE = 0.1
LATE_SHARE = 0.02
SETUP_REPS = 3
# REST latency keeps falling over a run's first few dozen requests;
# warming with fewer leaves a run-dependent slope in the open loop
WARMUP_REQUESTS = 40
# Shares of --seconds: static open loop, static closed loop, live. The
# gated latency comes from the open loop, so it gets most of the run.
OPEN_SHARE, CLOSED_SHARE, LIVE_SHARE = 0.7, 0.1, 0.2
# requests/s, well below the ~5/s a closed loop of 4 clients reaches:
# near saturation the open-loop median follows host contention
OPEN_RATE = 2.0
CHUNK_RATE = 2.0  # chunks/s, below what one trigger drains
READ_RATE = 1.0  # reads/s beside the writer: half OPEN_RATE, so reads
# leave CPU to the stream they are meant to observe
DRAIN_TIMEOUT_S = 60


def grace_ms(text: str) -> int:
    """Milliseconds of a Spark interval string such as ``24 hours``."""
    n, unit = text.split()
    per = {"hour": 3_600_000, "minute": 60_000, "second": 1000, "day": 86_400_000}
    return int(float(n) * per[unit.rstrip("s")])


def progress(q) -> list[dict]:
    return [json.loads(p.json) for p in q.recentProgress]


def batch_end_ms(p: dict) -> float:
    """Epoch ms at which a micro-batch finished: its trigger start plus
    the whole trigger execution, commit log included."""
    ts = p["timestamp"]
    start = calendar.timegm(time.strptime(ts[:19], "%Y-%m-%dT%H:%M:%S"))
    return start * 1000 + int(ts[20:23]) + p["durationMs"].get("triggerExecution", 0)


def files_by_batch(checkpoint: str, batches: list[dict]) -> dict[str, int]:
    """Source file name → micro-batch id.

    The file source logs each new file under its own log id, which
    advances only in micro-batches that found files; a micro-batch's
    progress carries the log offset it read up to. A file belongs to
    the first micro-batch whose end offset reaches its log id."""
    log_id = {}
    for path in glob.glob(os.path.join(checkpoint, "sources", "0", "*")):
        if not re.fullmatch(r"\d+(\.compact)?", os.path.basename(path)):
            continue
        with open(path) as f:
            for line in f:
                if line.startswith("{"):
                    e = json.loads(line)
                    log_id[os.path.basename(e["path"])] = int(e["batchId"])
    ends = []
    for p in sorted(batches, key=lambda p: p["batchId"]):
        end = p["sources"][0].get("endOffset") if p.get("sources") else None
        if isinstance(end, str):
            end = json.loads(end)
        if end is not None:
            ends.append((int(end["logOffset"]), p["batchId"]))
    out = {}
    for name, lid in log_id.items():
        out[name] = next((b for end, b in ends if end >= lid), None)
    return out


class Source:
    """The stream's source directory. Chunks are written beside it and
    moved in with an mtime above every earlier chunk's, because the
    file source replays in mtime order."""

    def __init__(self, src: str, staging: str):
        self.src, self.staging = src, staging
        self.last_ns = 0

    def add(self, readings: gen.Readings, name: str) -> float:
        """Write a chunk; returns the epoch time it became visible."""
        tmp = os.path.join(self.staging, name)
        gen.write_jsonl(readings, tmp)
        self.last_ns = max(time.time_ns(), self.last_ns + 1_000_000)
        os.utime(tmp, ns=(self.last_ns, self.last_ns))
        os.rename(tmp, os.path.join(self.src, name))
        return time.time()


def run(ctx: Ctx) -> Result:
    from kafka_streams_pipeline_spark.sources.sinks import compact_view, read_view
    from kafka_streams_pipeline_spark.streaming import pipeline

    res = Result()
    spark = ctx.spark
    grace = grace_ms(pipeline.DEFAULT_GRACE)
    live_chunks = max(1, int(round(CHUNK_RATE * ctx.seconds * LIVE_SHARE)))
    reps = []
    for k in range(SETUP_REPS):
        t0 = time.perf_counter()
        cells = gen.make_cells(ctx.seed, N_CELLS)
        plan = gen.stream_plan(
            ctx.seed, cells, BACKLOG_CHUNKS, BACKLOG_ROWS, BACKLOG_HOURS,
            live_chunks, LIVE_ROWS, LIVE_HOURS_PER_CHUNK, OUT_OF_ORDER_SHARE,
            LATE_SHARE, grace)
        source = Source(ctx.dir(f"rep{k}", "src"), ctx.dir(f"rep{k}", "staging"))
        for i, chunk in enumerate(plan.backlog):
            source.add(chunk, f"backlog-{i:04d}.json")
        reps.append(time.perf_counter() - t0)

    with sparkstats.Phase(ctx.probe, "warmup_stream", ctx.phases):
        t0 = time.perf_counter()
        wsrc = Source(ctx.dir("warm", "src"), source.staging)
        wsrc.add(plan.backlog[0], "w-0.json")
        q = pipeline.start_file_stream_pipeline(
            spark, wsrc.src, ctx.path("warm", "view"), ctx.path("warm", "ckpt"))
        pipeline.await_replay(q, 120)
        warm_stream_s = time.perf_counter() - t0

    view_dir, ckpt = ctx.path("view"), ctx.path("ckpt")
    tr = ctx.tracer
    upserts: dict[int, dict] = {}
    real_upsert = pipeline.upsert_view_batch

    def traced_upsert(path: str):
        apply = real_upsert(path)

        def wrapped(batch_df, batch_id: int) -> None:
            with tr.op(f"batch-{batch_id}", "pipeline.upsert"):
                t0 = time.time()
                apply(batch_df, batch_id)
                t1 = time.time()
            upserts[batch_id] = {"ms": (t1 - t0) * 1000,
                                 "rows_written": _rows_since(path, t0)}

        return wrapped

    store = sparkstats.StatusStore(spark) if tr else None
    backlog_rows = BACKLOG_ROWS * BACKLOG_CHUNKS
    mix = RequestMix(ctx.seed, cells, gen.EPOCH_MS, BACKLOG_HOURS)
    writes: dict[str, float] = {}
    with patched(pipeline, "upsert_view_batch", traced_upsert) if tr else contextlib.nullcontext():
        job0 = store.last_job_id() if store else -1
        a_start = time.time()
        q = pipeline.start_file_stream_pipeline(
            spark, source.src, view_dir, ckpt, available_now=False,
            max_files_per_trigger=FILES_PER_TRIGGER, processing_time=TRIGGER)
        try:
            with sparkstats.Phase(ctx.probe, "catchup", ctx.phases):
                _wait_rows(q, backlog_rows, DRAIN_TIMEOUT_S)
            a_progress = progress(q)
            catchup = backlog_rows / ((_end_of_rows(a_progress, backlog_rows) / 1000) - a_start)
            _wait_idle(q)
            store_a = store_stats(view_dir)

            static = RestLayer(ctx, read_view(spark, view_dir))
            try:
                with sparkstats.Phase(ctx.probe, "warmup_rest", ctx.phases):
                    t0 = time.perf_counter()
                    warm(static, mix, WARMUP_REQUESTS, ctx.nproc)
                    warm_rest_s = time.perf_counter() - t0
                with sparkstats.Phase(ctx.probe, "static_open", ctx.phases):
                    open_out = stats.run_open_loop(
                        static.op(mix, "open"), OPEN_RATE, ctx.seconds * OPEN_SHARE, ctx.nproc)
                with sparkstats.Phase(ctx.probe, "static_closed", ctx.phases):
                    closed_out, closed_s = stats.run_closed_loop(
                        static.op(mix, "closed"), ctx.seconds * CLOSED_SHARE, ctx.nproc)
                if tr is not None:
                    res.layers.update(rest_layers(ctx, static, {"open": open_out,
                                                                "closed": closed_out}))
            finally:
                static.close()

            live = RestLayer(ctx, read_view(spark, view_dir),
                             view_loader=lambda: read_view(spark, view_dir))
            try:
                with sparkstats.Phase(ctx.probe, "live", ctx.phases):
                    b_seconds = live_chunks / CHUNK_RATE
                    with ThreadPoolExecutor(max_workers=1) as pool:
                        fut = pool.submit(stats.run_open_loop, live.op(mix, "read"),
                                          READ_RATE, b_seconds, ctx.nproc - 1)

                        def write(i: int) -> float:
                            name = f"live-{i:04d}.json"
                            writes[name] = source.add(plan.live[i], name)
                            return writes[name]

                        writer = stats.run_open_loop(write, CHUNK_RATE, b_seconds, 1)
                        reads = fut.result()
                    _wait_rows(q, backlog_rows + LIVE_ROWS * live_chunks, DRAIN_TIMEOUT_S)
                if tr is not None:
                    res.layers.update({f"reads.{k}": v for k, v in
                                       rest_layers(ctx, live, {"read": reads}).items()})
            finally:
                live.close()
            all_progress = {p["batchId"]: p for p in a_progress + progress(q)}
        finally:
            q.stop()
            _wait_inactive(spark, q)
    job2 = store.last_job_id() if store else -1
    store_b = store_stats(view_dir)
    t0 = time.perf_counter()
    compact_view(spark, view_dir)
    compact_s = time.perf_counter() - t0
    store_c = store_stats(view_dir)
    setup_s = ctx.jvm_start_s + stats.p50(reps) + warm_stream_s + warm_rest_s

    # -- end-to-end ---------------------------------------------------------
    batch_of = files_by_batch(ckpt, list(all_progress.values()))
    ends = {b: batch_end_ms(p) for b, p in all_progress.items()}
    fresh, unseen, detail = [], 0, []
    for name, t_write in writes.items():
        b = batch_of.get(name)
        if b is None or b not in ends:
            unseen += 1
        else:
            fresh.append(ends[b] / 1000 - t_write)
        detail.append((name, round(t_write, 3), b, ends.get(b)))
    static_out = open_out + closed_out
    static_fail = sum(not o.ok for o in static_out)
    read_fail = sum(not o.ok for o in reads)
    res.attempted = len(static_out) + len(writes) + len(reads)
    res.failed = static_fail + unseen + read_fail
    qps = sum(o.ok for o in closed_out) / closed_s
    named = timing("query", [o.latency for o in open_out if o.ok],
                   sum(not o.ok for o in open_out))
    named["query_qps"] = {"value": qps, "unit": "req/s", "clients": ctx.nproc}
    named["catchup_events_per_s"] = {"value": catchup, "unit": "events/s",
                                     "backlog_events": backlog_rows}
    named.update(timing("freshness", fresh, unseen))
    named.update(timing("live_query", [o.latency for o in reads if o.ok], read_fail))
    named["live_reads_failed"] = {"value": read_fail, "unit": "count",
                                  "attempted": len(reads)}
    named["setup_s"] = {"value": setup_s, "unit": "s"}
    res.named.update(named)
    res.e2e = {"latency_p50_ms": named["query_p50_ms"]["value"],
               "throughput_per_s": catchup, "setup_s": setup_s}

    # -- layers ---------------------------------------------------------------
    batches = sorted(all_progress.values(), key=lambda p: p["batchId"])
    sops = [p["stateOperators"][0] for p in batches if p.get("stateOperators")]
    late_dropped = sum(s.get("numRowsDroppedByWatermark", 0) for s in sops)

    def dur(key: str) -> list[float]:
        return [p["durationMs"].get(key, 0) for p in batches]

    trig = dur("triggerExecution")
    res.layers.update({
        "pipeline.batches": len(batches),
        "pipeline.trigger_ms_p50": stats.p50(trig),
        "pipeline.trigger_ms_tail": (stats.tail(trig) or {}).get("value"),
        "pipeline.add_batch_ms_p50": stats.p50(dur("addBatch")),
        "pipeline.query_planning_ms_p50": stats.p50(dur("queryPlanning")),
        "pipeline.wal_commit_ms_p50": stats.p50(dur("walCommit")),
        "pipeline.commit_offsets_ms_p50": stats.p50(dur("commitOffsets")),
        "pipeline.latest_offset_ms_p50": stats.p50(dur("latestOffset")),
        "pipeline.state_rows_total": sops[-1].get("numRowsTotal", 0) if sops else 0,
        "pipeline.state_memory_bytes": sops[-1].get("memoryUsedBytes", 0) if sops else 0,
        "pipeline.state_commit_ms_p50": stats.p50([s.get("commitTimeMs", 0) for s in sops]),
        "pipeline.late_rows_dropped": late_dropped,
        "pipeline.backlog_files_max": _backlog_max(writes, batch_of, all_progress),
        "loadgen.late_ms_p50": ms(stats.p50([o.late for o in open_out])),
        "loadgen.late_ms_max": ms(max(o.late for o in open_out)),
        "writer.late_ms_max": ms(max(o.late for o in writer)),
        "reads.failed": read_fail,
        "store.files": store_b["files"], "store.bytes": store_b["bytes"],
        "store.partitions": store_b["partitions"],
        "store.files_after_catchup": store_a["files"],
        "store.files_compacted": store_c["files"],
        "sinks.compact_view_s": compact_s,
    })
    if tr is not None:
        updated = sum(s.get("numRowsUpdated", 0) for s in sops)
        stream_jobs = store.totals_between(job0, job2, _rest_groups(store))
        res.layers.update({
            "pipeline.upsert_ms_p50": stats.p50([u["ms"] for u in upserts.values()]),
            "pipeline.upsert_rows_written_per_row_updated":
                sum(u["rows_written"] for u in upserts.values()) / max(1, updated),
            **{f"pipeline.{k}": v for k, v in
               sparkstats.per_op(stream_jobs, len(batches)).items()},
        })
    res.info.update({
        "setup_reps_s": reps, "warmup_stream_s": warm_stream_s,
        "warmup_rest_s": warm_rest_s, "grace_ms": grace, "cells": N_CELLS,
        "backlog": {"chunks": BACKLOG_CHUNKS, "rows": BACKLOG_ROWS,
                    "hours": BACKLOG_HOURS, "files_per_trigger": FILES_PER_TRIGGER},
        "static": {"open_rate": OPEN_RATE, "open": len(open_out),
                   "closed": len(closed_out), "clients": ctx.nproc},
        "live": {"chunks": len(writes), "rows": LIVE_ROWS, "rate": CHUNK_RATE,
                 "out_of_order_share": OUT_OF_ORDER_SHARE, "late_share": LATE_SHARE,
                 "read_rate": READ_RATE, "reads": len(reads), "reads_failed": read_fail,
                 "errors": sorted({str(o.result)[:160] for o in reads if not o.ok})[:3]},
        "store": {"after_catchup": store_a, "after_live": store_b, "compacted": store_c},
        "freshness_detail": detail,
        "open_detail": [(o.result[0].kind, o.result[0].params.get("interval"),
                         len(o.result[0].params.get("geohashes", "").split(",")),
                         round(o.latency * 1000), len(o.result[1]["data"]))
                        if o.ok else ("failed", o.result) for o in open_out],
        "batches": [(p["batchId"], p["timestamp"], p["numInputRows"],
                     p["durationMs"].get("triggerExecution")) for p in batches],
    })
    with sparkstats.Phase(ctx.probe, "checks", ctx.phases):
        _checks(ctx, res, plan, mix, writes, view_dir, static_out, late_dropped)
    return res


def _checks(ctx: Ctx, res: Result, plan: gen.StreamPlan, mix: RequestMix,
            writes: dict[str, float], view_dir: str, static_out: list[stats.Outcome],
            late_dropped: int) -> None:
    """Untimed: the static responses against DuckDB over the backlog
    (the view the drain built); snapshots over a dense probe view
    against DuckDB; the final view against ``build_view`` over every
    written reading minus the late ones; the late-row count."""
    from kafka_streams_pipeline_spark.operators.view import build_view
    from kafka_streams_pipeline_spark.sources.sinks import read_view
    import duckdb

    spark = ctx.spark
    backlog_path = ctx.path("check", "backlog.parquet")
    gen.write_parquet(gen.Readings.concat(plan.backlog), backlog_path)
    written = gen.Readings.concat(plan.backlog + plan.live[:len(writes)])
    kept_path = ctx.path("check", "kept.parquet")
    gen.write_parquet(written.take(np.flatnonzero(~written.late)), kept_path)
    con = duckdb.connect()
    con.execute(f"CREATE VIEW backlog AS SELECT * FROM read_parquet('{backlog_path}')")
    check_responses(res, "static_rest_vs_duckdb", con, "backlog", static_out)
    con.close()
    check_snapshot_cover(ctx, res, mix)

    cols = ["gh", "window_start", "count", "sum", "avg"]
    got = Counter(tuple(r) for r in read_view(spark, view_dir).select(*cols).collect())
    want = Counter(tuple(r) for r in
                   build_view(spark.read.parquet(kept_path)).select(*cols).collect())
    keys = Counter(r[:2] for r in got.elements())
    dup_keys = sum(1 for n in keys.values() if n > 1)
    res.check("view_equals_build_view", got == want and dup_keys == 0,
              rows=sum(got.values()), expected_rows=sum(want.values()),
              duplicate_keys=dup_keys, only_stream=sum((got - want).values()),
              only_batch=sum((want - got).values()))
    n_late = int(written.late.sum())
    res.check("late_rows_dropped", late_dropped == n_late,
              dropped=late_dropped, generated=n_late)


def _rows_since(view_dir: str, t0: float) -> int:
    """Rows in the store's parquet files written at or after ``t0``."""
    import pyarrow.parquet as pq

    n = 0
    for root, _, names in os.walk(view_dir):
        for f in names:
            p = os.path.join(root, f)
            if f.endswith(".parquet") and os.path.getmtime(p) >= t0 - 0.01:
                n += pq.ParquetFile(p).metadata.num_rows
    return n


def _rest_groups(store: sparkstats.StatusStore) -> set[str]:
    return {g for g in store.jobs_by_group()
            if g == "untraced" or g.startswith(("open-", "closed-", "read-"))}


def _wait_rows(q, rows: int, timeout: float) -> None:
    deadline = time.time() + timeout
    while time.time() < deadline:
        if sum(p["numInputRows"] for p in progress(q)) >= rows:
            return
        if q.exception() is not None:
            raise RuntimeError(f"stream failed: {q.exception()}")
        time.sleep(0.02)
    raise TimeoutError(f"stream did not take {rows} rows within {timeout}s")


def _wait_idle(q, quiet_s: float = 1.0, timeout: float = 30) -> None:
    """Wait until no micro-batch has run for ``quiet_s``, so the batch
    that evicts state after the drain does not overlap static serving."""
    deadline = time.time() + timeout
    last, since = None, time.time()
    while time.time() < deadline:
        p = q.lastProgress
        bid = p["batchId"] if p else None
        if bid != last or q.status["isTriggerActive"] and q.status["isDataAvailable"]:
            last, since = bid, time.time()
        elif time.time() - since >= quiet_s:
            return
        time.sleep(0.05)


def _end_of_rows(prog: list[dict], rows: int) -> float:
    seen = 0
    for p in sorted(prog, key=lambda p: p["batchId"]):
        seen += p["numInputRows"]
        if seen >= rows:
            return batch_end_ms(p)
    raise ValueError("backlog not drained")


def _backlog_max(writes: dict[str, float], batch_of: dict[str, int],
                 prog: dict[int, dict]) -> int:
    """Most live chunks written but not yet taken at any batch start."""
    worst = 0
    for b, p in prog.items():
        start = batch_end_ms(p) - p["durationMs"].get("triggerExecution", 0)
        waiting = sum(1 for name, t in writes.items()
                      if t * 1000 <= start and batch_of.get(name, 1 << 30) >= b)
        worst = max(worst, waiting)
    return worst


def _wait_inactive(spark, q, timeout: float = 30) -> None:
    deadline = time.time() + timeout
    while time.time() < deadline and any(a.id == q.id for a in spark.streams.active):
        time.sleep(0.05)
