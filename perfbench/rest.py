"""REST side of the benchmark: the seeded request mix, the HTTP client,
the tagging handler and the DuckDB recomputation of responses."""

from __future__ import annotations

import calendar
import contextlib
import datetime as dt
import http.client
import json
import math
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass
from fractions import Fraction
from urllib.parse import urlencode

import numpy as np

from perfbench import gen, sparkstats, stats
from perfbench.common import Ctx, Result, mean, ms
from perfbench.trace import Tracer, patched, self_times

OP_HEADER = "X-Bench-Op"
INTERVAL_MS = {"1day": 86_400_000, "1week": 7 * 86_400_000}


@dataclass
class Request:
    kind: str  # history | interval | snapshot
    op: str  # count | sum | avg
    params: dict

    @property
    def path(self) -> str:
        tail = "snapshot" if self.kind == "snapshot" else "history"
        return f"/api/temperature/aggregate/{self.op}/{tail}?{urlencode(self.params)}"


class RequestMix:
    """Seeded requests over ``cells`` and event hours [t0, t0 + hours).

    Every 25 consecutive requests cover a fixed design: kinds rotate
    through :attr:`KINDS` (two history, one interval history, two
    snapshot in every five), and each kind meets each of five size
    strata once. A stratum fixes the range of the request's size on a
    log scale: 1 to 40 cells (drawn towards hot cells) and 1 hour to
    all hours for history, half a precision-5 cell to about two
    precision-4 cells of box height for snapshot, whose box sits
    around a cell drawn towards hot cells. The seed draws positions
    and values inside those ranges, so seeds change the data a run
    touches, not the shape of its load. Request ``i`` of a stream
    depends only on (seed, stream, i).

    The mix is a synthetic design: no recorded traffic and no figure
    of the source system gives query kinds, sizes or rates. The
    reference API has two query families, history and snapshot, so
    they get equal slots (two each in five); interval history, the
    third endpoint shape, gets the fifth. The size ranges are chosen
    for coverage, not realism: five log-scale strata weight small and
    large requests equally, so both the fixed per-request cost and the
    scan-bound end are measured. 40 cells keeps the largest history
    request within about a second; the box heights run from half a
    precision-5 cell to two precision-4 cells, so snapshots are
    covered at precisions 4 to 6."""

    KINDS = ("history", "snapshot", "interval", "history", "snapshot")
    STRATA = 5
    MAX_CELLS = 40
    BOX_DEG = (0.022, 0.35)

    def __init__(self, seed: int, cells: list[str], t0_ms: int, hours: int):
        self.seed, self.cells, self.t0, self.hours = seed, cells, t0_ms, hours
        self.p = gen.zipf_weights(len(cells))

    def _scale(self, rng, stratum: int, lo: float, hi: float) -> float:
        """Log-uniform in the ``stratum``-th fifth of [lo, hi]."""
        q = (stratum + rng.uniform()) / self.STRATA
        return float(np.exp(np.log(lo) + q * (np.log(hi) - np.log(lo))))

    def __call__(self, stream: str, i: int) -> Request:
        rng = gen.rng_for(self.seed, f"{stream}-{i}")
        kind = self.KINDS[i % len(self.KINDS)]
        stratum = (i // len(self.KINDS) + i) % self.STRATA
        op = str(rng.choice(["count", "sum", "avg"]))
        if kind == "snapshot":
            # a box around a cell drawn towards hot cells, so snapshots
            # land where readings are, clipped to the region
            centre = self.cells[int(rng.choice(len(self.cells), p=self.p))]
            cn, cw, cs, ce = gen.decode_bbox(centre)
            north, west, south, east = gen.decode_bbox(gen.REGION)
            ts = self.t0 + int(rng.integers(0, self.hours * gen.HOUR_MS))
            h = self._scale(rng, stratum, *self.BOX_DEG)
            w = h * float(rng.uniform(1.0, 2.0))
            lat = (cn + cs) / 2 + float(rng.uniform(-h, h)) / 4
            lon = (cw + ce) / 2 + float(rng.uniform(-w, w)) / 4
            lat = min(max(lat, south + h / 2), north - h / 2)
            lon = min(max(lon, west + w / 2), east - w / 2)
            bbox = f"{lat + h / 2:.6f},{lon - w / 2:.6f},{lat - h / 2:.6f},{lon + w / 2:.6f}"
            return Request("snapshot", op, {"ts": ts, "bbox": bbox})
        k = min(self.MAX_CELLS, int(round(self._scale(rng, stratum, 1, self.MAX_CELLS))))
        sel = rng.choice(len(self.cells), size=k, replace=False, p=self.p)
        geohashes = ",".join(self.cells[j] for j in sorted(sel.tolist()))
        span_h = min(self.hours, int(round(self._scale(rng, stratum, 1, self.hours))))
        lo = self.t0 + int(rng.integers(0, self.hours - span_h + 1)) * gen.HOUR_MS
        hi = lo + span_h * gen.HOUR_MS
        if kind == "history":
            return Request("history", op, {"geohashes": geohashes, "from": lo, "to": hi})
        interval = ("1day", "1week", "1month")[stratum * 3 // self.STRATA]
        return Request("interval", op,
                       {"geohashes": geohashes, "interval": interval, "from": hi})


class Client:
    """One HTTP/1.0 GET per connection, like the stdlib server speaks."""

    def __init__(self, port: int):
        self.port = port

    def get(self, path: str, op_id: str | None = None) -> dict:
        conn = http.client.HTTPConnection("127.0.0.1", self.port, timeout=120)
        try:
            conn.request("GET", path, headers={OP_HEADER: op_id} if op_id else {})
            resp = conn.getresponse()
            body = json.loads(resp.read())
        finally:
            conn.close()
        if resp.status != 200:
            raise RuntimeError(f"HTTP {resp.status}: {body.get('errorMessage')}")
        return body


def handler_class(base, spark, tracer: Tracer | None, view_loader=None):
    """A ``QueryHandler`` subclass for the benchmark.

    With a tracer, each request runs tagged with the operation id its
    client sent, so its spans share one id and its Spark jobs one job
    group; untagged requests run untraced. With ``view_loader``, each
    request serves a freshly loaded view, which is how a reader sees
    commits made after the server started."""

    class Tagged(base):
        def do_GET(self):  # noqa: N802 (stdlib API)
            op_id = self.headers.get(OP_HEADER)
            if tracer is not None:
                sparkstats.set_job_group(spark, op_id or "untraced")
            with tracer.op(op_id, "serving.request") if tracer else contextlib.nullcontext():
                if view_loader is not None:
                    self.view = view_loader()
                return super().do_GET()

    return Tagged


class RestLayer:
    """A view served through the program's ``serving.serve``, with the
    traced run's wrappers installed around the serving call path."""

    def __init__(self, ctx: Ctx, view, view_loader=None):
        from kafka_streams_pipeline_spark import geo, serving

        self.ctx = ctx
        self.frames: dict[str, object] = {}
        self._stack = contextlib.ExitStack()
        tr = ctx.tracer
        if tr is not None:
            for name in ("history", "history_interval", "snapshot"):
                self._stack.enter_context(patched(
                    serving, name, tr.wrap(getattr(serving, name), f"queries.{name}")))
            self._stack.enter_context(patched(
                geo, "cover_bbox_adaptive",
                tr.wrap(geo.cover_bbox_adaptive, "geo.cover", count=len)))
            real = serving.to_message

            def to_message(df, metadata=None):
                op = tr.current_op
                if op is not None:
                    self.frames[op] = df
                with tr.span("envelope.to_message") as attrs:
                    out = real(df, metadata)
                    attrs["count"] = len(out["data"])
                return out

            self._stack.enter_context(patched(serving, "to_message", to_message))
        with contextlib.ExitStack() as during_serve:
            if tr is not None or view_loader is not None:
                during_serve.enter_context(patched(
                    serving, "QueryHandler",
                    handler_class(serving.QueryHandler, ctx.spark, tr, view_loader)))
            self.server = serving.serve(view, host="127.0.0.1", port=0)
        self.client = Client(self.server.server_address[1])

    def close(self) -> None:
        self.server.shutdown()
        self.server.server_close()
        self._stack.close()

    def op(self, mix: RequestMix, stream: str):
        """``op(i)`` sends request ``i`` of ``stream``; in the traced run
        every second request carries an operation id."""
        trace = self.ctx.tracer is not None

        def run(i: int):
            op_id = f"{stream}-{i}" if trace and i % 2 == 0 else None
            req = mix(stream, i)
            return req, self.client.get(req.path, op_id)

        return run


def warm(layer: RestLayer, mix: RequestMix, n: int, workers: int) -> None:
    with ThreadPoolExecutor(max_workers=workers) as pool:
        list(pool.map(lambda i: layer.client.get(mix("warmup", i).path), range(n)))


def rest_layers(ctx: Ctx, layer: RestLayer, outcomes: dict[str, list[stats.Outcome]]) -> dict:
    """Per-layer metrics of the traced REST requests.

    ``serving.self_ms`` is the client's time minus the time inside
    ``queries`` and ``envelope`` (HTTP, handler and JSON on both
    sides); ``serving.handler_self_ms`` is the server-side request
    span's self time. ``trace.overhead_ms`` is the p50 of traced minus
    the p50 of untraced requests of the same run, which alternate."""
    tr = ctx.tracer
    traced = {f"{s}-{o.index}": o for s, os_ in outcomes.items() for o in os_
              if o.index % 2 == 0 and o.ok}
    build, execute, kinds, prefixes, rows = {}, {}, {}, [], []
    spans = [s for s in tr.spans if s.op_id in traced]
    own = self_times(spans)
    handler_self = [own[s.span_id] for s in spans if s.name == "serving.request"]
    for s in spans:
        if s.name.startswith("queries."):
            build[s.op_id] = build.get(s.op_id, 0.0) + s.duration
            kinds[s.op_id] = "snapshot" if s.name == "queries.snapshot" else "history"
        elif s.name == "envelope.to_message":
            execute[s.op_id] = execute.get(s.op_id, 0.0) + s.duration
            rows.append(s.count or 0)
        elif s.name == "geo.cover":
            prefixes.append(s.count or 0)
    ops = [o for o in traced if o in execute]
    client = {o: traced[o].done - traced[o].sent for o in ops}
    serving_self = [client[o] - build.get(o, 0.0) - execute[o] for o in ops]
    totals = sparkstats.StatusStore(ctx.spark).totals(ops)
    plan, files, scanned = [], 0, 0
    for o in ops:
        df = layer.frames.get(o)
        if df is None:
            continue
        plan.append(sparkstats.plan_phases_ms(df))
        sm = sparkstats.scan_metrics(df)
        files += sm["files_read"]
        scanned += sm["rows_scanned"]
    n = max(1, len(ops))
    untraced = [o.latency for os_ in outcomes.values() for o in os_
                if o.index % 2 == 1 and o.ok]
    traced_lat = [traced[o].latency for o in ops]
    return {
        "serving.self_ms_p50": ms(stats.p50(serving_self)),
        "serving.handler_self_ms_p50": ms(stats.p50(handler_self)),
        "queries.build_ms_p50": ms(stats.p50([build.get(o, 0.0) for o in ops])),
        "queries.history_ms_p50": ms(stats.p50(
            [build[o] for o in ops if kinds.get(o) == "history"])),
        "queries.snapshot_ms_p50": ms(stats.p50(
            [build[o] for o in ops if kinds.get(o) == "snapshot"])),
        "geo.cover_prefixes_mean": mean(prefixes),
        "envelope.execute_ms_p50": ms(stats.p50([execute[o] for o in ops])),
        "envelope.rows_returned_mean": mean(rows),
        "op.build_ms_p50": ms(stats.p50([build.get(o, 0.0) for o in ops])),
        "op.execute_ms_p50": ms(stats.p50([execute[o] for o in ops])),
        "op.self_ms_p50": ms(stats.p50(serving_self)),
        "spark.plan_ms_p50": stats.p50(plan),
        **sparkstats.per_op(sparkstats.merge(list(totals.values())), len(ops)),
        "store.files_read_per_query": files / n,
        "store.rows_scanned_per_row_returned": scanned / max(1, sum(rows)),
        "trace.ops": len(ops),
        "trace.spans": len(spans),
        "trace.hook_ms_per_op": ms(tr.hook_s(ops)) / n,
        "trace.overhead_ms": ms(stats.p50(traced_lat)) - ms(stats.p50(untraced))
        if traced_lat and untraced else 0.0,
    }


CHECK_SAMPLE = 30
# The API's snapshot contract: cells are stored at precision 6, and a
# bbox is covered at the finest precision that needs at most 64 cells.
VIEW_PRECISION = 6
COVER_MAX_CELLS = 64


def check_responses(res: Result, name: str, con, table: str,
                    outcomes: list[stats.Outcome]) -> None:
    """Compare a spread sample of successful responses with DuckDB."""
    ok_out = [o for o in outcomes if o.ok]
    step = max(1, len(ok_out) // CHECK_SAMPLE)
    sample = ok_out[::step][:CHECK_SAMPLE]
    cells = [r[0] for r in con.execute(
        f"SELECT DISTINCT substr(geohash, 1, {VIEW_PRECISION}) FROM {table}").fetchall()]
    bad = []
    for o in sample:
        req, body = o.result
        if expected(con, table, cells, req) != body["data"]:
            bad.append(req.path)
    res.check(name, bool(sample) and not bad, checked=len(sample), mismatched=bad[:3])


# -- DuckDB recomputation ---------------------------------------------------

def _month_back(t_ms: int) -> int:
    """Epoch ms one calendar month earlier, day clamped to the month's
    end, as Spark subtracts ``INTERVAL 1 MONTH``."""
    t = dt.datetime(1970, 1, 1) + dt.timedelta(milliseconds=t_ms)
    y, m = (t.year, t.month - 1) if t.month > 1 else (t.year - 1, 12)
    d = min(t.day, calendar.monthrange(y, m)[1])
    back = t.replace(year=y, month=m, day=d)
    return calendar.timegm(back.timetuple()) * 1000 + back.microsecond // 1000


def _value(op: str, cnt: int, su: int):
    if op == "count":
        return cnt
    return su / 1000000.0 if op == "sum" else su / 1000000.0 / cnt


def _cell_size(p: int) -> tuple[Fraction, Fraction]:
    """Exact (height, width) in degrees of a precision-``p`` cell: its
    5p bits alternate longitude first."""
    lat_bits = 5 * p // 2
    return Fraction(180, 2 ** lat_bits), Fraction(360, 2 ** (5 * p - lat_bits))


def cover_precision(north: float, west: float, south: float, east: float) -> int:
    """The precision a snapshot covers the box at, counted from cell
    sizes alone: the finest one up to the view's whose grid needs at
    most :data:`COVER_MAX_CELLS` cells (rows x columns) to touch it."""
    n, w, s, e = (Fraction(x) for x in (north, west, south, east))
    best = 1
    for p in range(2, VIEW_PRECISION + 1):
        h, wd = _cell_size(p)
        rows = math.floor(n / h) - math.floor(s / h) + 1
        cols = math.floor(e / wd) - math.floor(w / wd) + 1
        if rows * cols > COVER_MAX_CELLS:
            break
        best = p
    return best


def _bounds(bbox: str) -> tuple[float, float, float, float]:
    north, west, south, east = (float(x) for x in bbox.split(","))
    return north, west, south, east


def _touches(cell: str, bbox: tuple[float, float, float, float]) -> bool:
    """Whether ``cell``, taken as half-open [south, north) x [west,
    east), meets the closed box (N, W, S, E)."""
    n, w, s, e = (Fraction(x) for x in bbox)
    cn, cw, cs, ce = (Fraction(x) for x in gen.decode_bbox(cell))
    return cs <= n and cn > s and cw <= e and ce > w


def touching(bbox: str, p: int) -> list[str]:
    """The precision-``p`` cells that meet ``bbox`` (N,W,S,E), found by
    refining the top-level cells that meet it."""
    b = _bounds(bbox)
    cells = [c for c in gen.BASE32 if _touches(c, b)]
    for _ in range(p - 1):
        cells = [c + d for c in cells for d in gen.BASE32 if _touches(c + d, b)]
    return cells


def snapshot_cells(cells: list[str], bbox: str) -> list[str]:
    """The stored ``cells`` a snapshot over ``bbox`` (N,W,S,E) selects:
    those whose cover-precision ancestor meets the box."""
    b = _bounds(bbox)
    p = cover_precision(*b)
    touches = {a: _touches(a, b) for a in {c[:p] for c in cells}}
    return sorted(c for c in cells if touches[c[:p]])


PROBE_BOXES = 8
PROBE_CELLS = 200


def probe_cells(rng, bbox: str) -> list[str]:
    """Precision-6 cells to store for a cover probe of ``bbox``:
    :data:`PROBE_CELLS` drawn under the cells that meet the box at its
    cover precision and as many under those at the next coarser one.
    A cover one level finer then drops some of them and one level
    coarser adds some."""
    q = cover_precision(*_bounds(bbox))
    out: set[str] = set()
    for level in sorted({q, max(1, q - 1)}):
        prefixes = touching(bbox, level)
        picks = rng.choice(len(prefixes), size=PROBE_CELLS).tolist()
        tails = gen.b32(rng.integers(0, 32 ** (VIEW_PRECISION - level), size=PROBE_CELLS),
                        VIEW_PRECISION - level)
        out.update(prefixes[j] + t for j, t in zip(picks, tails))
    return sorted(out)


def check_snapshot_cover(ctx: Ctx, res: Result, mix: RequestMix) -> None:
    """Snapshots over a dense probe view, compared with DuckDB.

    The workload's cells are too sparse for a snapshot's response to
    show which cells its bbox cover chose. Here :data:`PROBE_BOXES`
    snapshot boxes of the seeded mix each get :func:`probe_cells` in an
    hour of their own; the view is ``build_view`` over those readings,
    stored with ``sources.sinks.write_view`` and served through
    ``serving.serve``."""
    from kafka_streams_pipeline_spark import serving
    from kafka_streams_pipeline_spark.operators.view import build_view
    from kafka_streams_pipeline_spark.sources.sinks import read_view, write_view
    import duckdb

    boxes = (mix("probe", i) for i in range(10 * PROBE_BOXES))
    boxes = [r for r in boxes if r.kind == "snapshot"][:PROBE_BOXES]
    rng = gen.rng_for(ctx.seed, "probe")
    reqs, parts = [], []
    for k, r in enumerate(boxes):
        hour = gen.EPOCH_MS + k * gen.HOUR_MS
        reqs.append(Request("snapshot", r.op, {"ts": hour, "bbox": r.params["bbox"]}))
        parts.append(gen.cell_readings(ctx.seed, f"probe-{k}",
                                       probe_cells(rng, r.params["bbox"]), hour))
    path = ctx.path("check", "probe.parquet")
    gen.write_parquet(gen.Readings.concat(parts), path)
    view_dir = ctx.path("check", "probe_view")
    write_view(build_view(ctx.spark.read.parquet(path)), view_dir)
    server = serving.serve(read_view(ctx.spark, view_dir), host="127.0.0.1", port=0)
    try:
        client = Client(server.server_address[1])
        with ThreadPoolExecutor(max_workers=ctx.nproc) as pool:
            bodies = list(pool.map(lambda r: client.get(r.path), reqs))
    finally:
        server.shutdown()
        server.server_close()
    con = duckdb.connect()
    con.execute(f"CREATE VIEW probe AS SELECT * FROM read_parquet('{path}')")
    cells = sorted({g for p in parts for g in (h[:VIEW_PRECISION] for h in p.geohash)})
    bad = [r.path for r, body in zip(reqs, bodies)
           if expected(con, "probe", cells, r) != body["data"]]
    con.close()
    res.check("snapshot_cover_vs_duckdb", len(reqs) == PROBE_BOXES and not bad,
              checked=len(reqs), probe_cells=len(cells),
              rows_returned=sum(len(b["data"]) for b in bodies), mismatched=bad[:3])


def expected(con, table: str, cells: list[str], req: Request) -> list[list]:
    """The response rows ``req`` should get, recomputed in DuckDB from
    the generated readings in ``table`` with integer arithmetic only
    (hour windows as epoch-millis, sums as integer micros). ``cells``
    are the distinct precision-6 cells of ``table``; a snapshot's cells
    are chosen from them by :func:`snapshot_cells`."""
    p = req.params
    hour = f"({table}.timestamp // {gen.HOUR_MS}) * {gen.HOUR_MS}"
    gh = f"substr({table}.geohash, 1, {VIEW_PRECISION})"
    agg = "count(*), sum(CAST(round(tempVal * 1000000) AS BIGINT))"
    if req.kind == "snapshot":
        w = p["ts"] // gen.HOUR_MS * gen.HOUR_MS
        chosen = ",".join(f"'{c}'" for c in snapshot_cells(cells, p["bbox"]))
        rows = con.execute(
            f"SELECT {gh} AS g, {agg} FROM {table} WHERE {hour} = {w} "
            f"AND {gh} IN ({chosen or 'NULL'}) GROUP BY g ORDER BY g"
        ).fetchall()
    else:
        chosen = ",".join(f"'{c}'" for c in p["geohashes"].split(","))
        if req.kind == "history":
            lo, hi = p["from"], p["to"]
        else:
            hi = p["from"]
            lo = _month_back(hi) if p["interval"] == "1month" else hi - INTERVAL_MS[p["interval"]]
        rows = con.execute(
            f"SELECT {hour} AS w, {agg} FROM {table} WHERE {gh} IN ({chosen}) "
            f"AND {hour} >= {lo} AND {hour} <= {hi} GROUP BY w ORDER BY w"
        ).fetchall()
    return [[k, _value(req.op, int(c), int(s))] for k, c, s in rows]
