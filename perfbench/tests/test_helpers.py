"""Tests for the benchmark's pure helpers. Run from the repository root:

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import hashlib
import math
import time

import numpy as np
import pytest

from perfbench import gen, stats
from perfbench.trace import Span, Tracer, covered, self_times


# -- tail rule ----------------------------------------------------------------

def test_tail_needs_ten_samples_beyond():
    assert stats.tail(list(range(10))) is None
    t = stats.tail([float(x) for x in range(11)])
    assert t == {"value": 0.0, "percentile": round(100 / 11, 2), "samples": 11}
    t = stats.tail([float(x) for x in range(100)])
    assert t["value"] == 89.0 and t["percentile"] == 90.0 and t["samples"] == 100


def test_tail_counts_failures_as_infinite():
    xs = [float(x) for x in range(15)]
    t = stats.tail(xs, failures=5)
    # 20 samples: the value with exactly ten beyond is the 10th smallest
    assert t["value"] == 9.0 and t["samples"] == 20 and t["percentile"] == 50.0
    assert math.isinf(stats.tail(xs[:5], failures=15)["value"])


# -- open loop ----------------------------------------------------------------

def test_outcome_latency_runs_from_due_not_sent():
    o = stats.Outcome(0, due=10.0, sent=10.5, done=11.25, ok=True)
    assert o.latency == 1.25
    assert o.late == 0.5


def test_due_times_follow_the_rate():
    assert stats.due_times(100.0, 4.0, 3) == [100.0, 100.25, 100.5]


def test_open_loop_keeps_its_schedule_when_the_system_stalls():
    # 1 worker, ops take 0.1 s, due every 0.05 s: each later op waits
    # longer for the worker, and that wait is in its latency
    outs = stats.run_open_loop(lambda i: time.sleep(0.1), rate=20.0,
                               seconds=0.2, workers=1)
    assert [o.index for o in outs] == [0, 1, 2, 3]
    for a, b in zip(outs, outs[1:]):
        assert b.due - a.due == pytest.approx(0.05)
        assert b.latency > a.latency + 0.03
    for o in outs:
        assert o.latency >= o.done - o.sent
        assert o.ok


def test_open_loop_records_failures_without_retrying():
    def op(i):
        if i == 1:
            raise RuntimeError("refused")
        return i

    outs = stats.run_open_loop(op, rate=50.0, seconds=0.06, workers=2)
    assert [o.ok for o in outs] == [True, False, True]
    assert "refused" in outs[1].result


def test_closed_loop_waits_for_each_reply():
    outs, elapsed = stats.run_closed_loop(lambda i: time.sleep(0.02), 0.1, clients=2)
    assert len(outs) >= 4
    for o in outs:
        assert o.due == o.sent
    assert elapsed >= 0.1


# -- generators ---------------------------------------------------------------

def _digest(path) -> str:
    return hashlib.sha256(path.read_bytes()).hexdigest()


def _stream(seed: int) -> gen.StreamPlan:
    cells = gen.make_cells(seed, 200)
    return gen.stream_plan(seed, cells, backlog_chunks=3, backlog_rows=100,
                           backlog_hours=48, live_chunks=4, live_rows=50,
                           live_hours_per_chunk=0.5, out_of_order_share=0.1,
                           late_share=0.1, grace_ms=24 * gen.HOUR_MS)


def test_readings_same_seed_same_bytes(tmp_path):
    digests = []
    for i, seed in enumerate((1, 1, 2)):
        plan = _stream(seed)
        gen.write_jsonl(plan.all, tmp_path / f"{i}.jsonl")
        gen.write_parquet(plan.all, tmp_path / f"{i}.parquet")
        digests.append(_digest(tmp_path / f"{i}.jsonl") + _digest(tmp_path / f"{i}.parquet"))
    assert digests[0] == digests[1] != digests[2]


def test_corpus_same_seed_same_bytes(tmp_path):
    digests = []
    for seed in (5, 5, 6):
        gen.write_corpus(gen.corpus(seed, 120, 60, 0.2, 0.3), tmp_path / str(len(digests)))
        d = tmp_path / str(len(digests))
        digests.append(_digest(d / "documents.parquet") + _digest(d / "embeddings.parquet"))
    assert digests[0] == digests[1] != digests[2]


def test_readings_are_zipf_skewed():
    cells = gen.make_cells(3, 500)
    r = gen.stream_plan(3, cells, 4, 5000, 72, 1, 10, 0.5, 0.0, 0.0,
                        24 * gen.HOUR_MS).all
    counts = {}
    for g in r.geohash:
        counts[g[:6]] = counts.get(g[:6], 0) + 1
    assert counts[cells[0]] > 10 * counts.get(cells[-1], 1)
    assert all(g.startswith(gen.REGION) and len(g) == 12 for g in r.geohash)


def test_stream_shares_and_late_rows():
    plan = _stream(4)
    grace = 24 * gen.HOUR_MS
    backlog_end = gen.EPOCH_MS + 48 * gen.HOUR_MS
    keys = set()
    for chunk in plan.live:
        assert chunk.late.sum() == 5 and chunk.out_of_order.sum() == 5
        lo = chunk.timestamp[~chunk.late & ~chunk.out_of_order].min()
        assert (chunk.timestamp[chunk.out_of_order] >= lo - grace // 2 - gen.HOUR_MS).all()
        # late rows lie past the watermark the drained backlog sets
        assert (chunk.timestamp[chunk.late] < backlog_end - grace - gen.HOUR_MS).all()
        for t, g in zip(chunk.timestamp[chunk.late], np.array(chunk.geohash)[chunk.late]):
            keys.add((g[:6], int(t) // gen.HOUR_MS))
    assert len(keys) == 5 * len(plan.live)  # one (cell, hour) key per late row
    assert not any(c.late.any() for c in plan.backlog)


def test_stream_plan_rejects_a_backlog_too_short_for_late_rows():
    with pytest.raises(ValueError):
        gen.stream_plan(1, gen.make_cells(1, 10), 2, 10, 24, 2, 50, 0.5, 0.1, 0.1,
                        24 * gen.HOUR_MS)


def test_corpus_shares():
    c = gen.corpus(9, 2000, 500, near_dup_share=0.2, boilerplate_share=0.3)
    assert 0.15 < (c.near_dup_of >= 0).mean() < 0.25
    assert 0.25 < c.boilerplate.mean() < 0.35
    assert all(t.isascii() and "  " not in t for t in c.text)
    assert c.embedding.shape == (500, 64) and c.embedding.dtype == np.float32


# -- spans --------------------------------------------------------------------

def test_covered_merges_overlaps():
    assert covered([]) == 0.0
    assert covered([(0, 2), (1, 3), (5, 6)]) == 4.0
    assert covered([(0, 10), (2, 3)]) == 10.0


def test_self_time_subtracts_union_of_children():
    spans = [
        Span(1, None, "op", "root", 0.0, 10.0),
        Span(2, 1, "op", "a", 1.0, 4.0),
        Span(3, 1, "op", "b", 3.0, 6.0),   # overlaps a: union is 1..6
        Span(4, 2, "op", "a.inner", 2.0, 3.0),
        Span(5, 1, "op", "late", 9.0, 12.0),  # clipped to the parent's end
    ]
    st = self_times(spans)
    assert st[1] == pytest.approx(10.0 - 5.0 - 1.0)
    assert st[2] == pytest.approx(3.0 - 1.0)
    assert st[4] == pytest.approx(1.0)


def test_tracer_records_only_tagged_operations():
    tr = Tracer()
    f = tr.wrap(lambda x: [x, x], "layer", count=len)
    assert f(1) == [1, 1] and tr.spans == []
    with tr.op("req-1"):
        f(2)
    names = {s.name: s for s in tr.spans}
    assert set(names) == {"op", "layer"}
    assert names["layer"].parent_id == names["op"].span_id
    assert names["layer"].count == 2 and names["layer"].op_id == "req-1"
    assert tr.hook_s(["req-1"]) >= 0.0 and tr.hook_s(["other"]) == 0.0


def test_request_mix_covers_its_design_every_25_requests():
    from perfbench.rest import RequestMix

    cells = gen.make_cells(2, 300)
    for seed in (1, 2):
        mix = RequestMix(seed, cells, gen.EPOCH_MS, 21 * 24)
        reqs = [mix("open", i) for i in range(25)]
        kinds = [r.kind for r in reqs]
        assert kinds.count("history") == 10 and kinds.count("snapshot") == 10
        assert kinds.count("interval") == 5
        sizes = sorted(len(r.params["geohashes"].split(","))
                       for r in reqs if r.kind == "history")
        assert sizes[0] <= 3 and sizes[-1] >= 15
        assert mix("open", 7) == RequestMix(seed, cells, gen.EPOCH_MS, 21 * 24)("open", 7)



def test_snapshot_cells_cover_precision_and_edges():
    from perfbench.rest import cover_precision, snapshot_cells

    def box(gh: str, shrink: float = 0.0) -> str:
        n, w, s, e = gen.decode_bbox(gh)
        dh, dw = (n - s) * shrink, (e - w) * shrink
        return f"{n - dh!r},{w + dw!r},{s + dh!r},{e - dw!r}"

    def bounds(b: str) -> tuple[float, ...]:
        return tuple(float(x) for x in b.split(","))

    siblings = ["u0bcd" + c for c in gen.BASE32]
    edges = {c: gen.decode_bbox(c) for c in siblings}
    # a cell with siblings on every side
    cell = next(c for c, (n, w, s, e) in edges.items()
                if all(any(o[k] == v for o in edges.values())
                       for k, v in ((2, n), (0, s), (1, e), (3, w))))
    n, w, s, e = edges[cell]
    # strictly inside one precision-6 cell: that cell alone
    assert cover_precision(*bounds(box(cell, 0.25))) == 6
    assert snapshot_cells(siblings, box(cell, 0.25)) == [cell]
    # exactly one cell's box: the closed north and east edges touch the
    # cells beyond them, the south and west edges do not
    got = set(snapshot_cells(siblings, box(cell)))
    north = {c for c, b in edges.items() if b[2] == n and b[1] == w}
    south = {c for c, b in edges.items() if b[0] == s and b[1] == w}
    east = {c for c, b in edges.items() if b[1] == e and b[2] == s}
    west = {c for c, b in edges.items() if b[3] == w and b[2] == s}
    assert len(north) == len(south) == len(east) == len(west) == 1
    assert cell in got and north <= got and east <= got
    assert not (south | west) & got and len(got) == 4
    # a whole precision-4 cell needs 32 x 32 precision-6 cells but only
    # 32 precision-5 ones, so it is covered at precision 5
    assert cover_precision(*bounds(box("u0bc", 0.01))) == 5
    assert cover_precision(*bounds(box("u0", 0.01))) == 3
