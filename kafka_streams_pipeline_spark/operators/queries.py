"""Interactive query family over the materialized view.

Reference endpoints (SURVEY.md §3.2/§3.3):

- history: time-series of one aggregate over a set of geohash cells
  and a time range (querying/QueryingService.java:38-122,
  querying/QueryingController.java:45-79).
- snapshot: per-cell aggregate at one instant inside a lat/lon bbox
  (querying/QueryingService.java:124-203,
  querying/QueryingController.java:81-96).

The reference's scatter-gather over HTTP + TreeMap merge
(querying/QueryingController.java:98-167, querying/util/Aggregator.java:17-30)
collapses into a single groupBy here: Spark's partial/final hash
aggregation over the shuffle IS the distributed merge (§2.3 A7).

All merges recompute avg from merged sums — sum(sum)/sum(count) —
never average the averages (Aggregator.java:20).

Scale posture: every query filters the view on (gh, window_start)
BEFORE aggregating, so with the view written partitioned by
window_start date (see streaming/pipeline.py) the scan partition-
prunes on time and min/max-skips on gh; the groupBy shuffles only the
filtered slice, whose size is bounded by cells × windows.

The final merge and the response sort run in ONE task (coalesce(1) +
sortWithinPartitions, no global orderBy). That is safe at any view
size: the task reads the map side's partial aggregates, at most
(keys in range) × (map tasks) rows, and emits one row per key — hours
in the requested range for history, cells in the covered box for
snapshot — while scan, filter and partial aggregation stay parallel.
"""

from __future__ import annotations

import calendar
import datetime as dt

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from kafka_streams_pipeline_spark import geo
from kafka_streams_pipeline_spark.plans.validation import (
    validate_aggregate_op,
    validate_geohashes,
    validate_interval,
    validate_time_range,
)

# querying/util/AppConfig.java:7-8
AGGREGATE_OPS = ("count", "sum", "avg")
INTERVALS = ("1day", "1week", "1month", "all")

# Calendar arithmetic of querying/QueryingController.java:220-238:
# 1day → -1 DAY, 1week → -7 DAY, 1month → -1 MONTH, all → -30 YEAR.
_INTERVAL_EXPR = {
    "1day": "INTERVAL 1 DAY",
    "1week": "INTERVAL 7 DAY",
    "1month": "INTERVAL 1 MONTH",
    "all": "INTERVAL 30 YEAR",
}
# ws_date lower bound per interval: a safe over-approximation of
# to − interval (months are at most 31 days, years at most 366)
_INTERVAL_LOWER = {
    "1day": dt.timedelta(days=1),
    "1week": dt.timedelta(days=7),
    "1month": dt.timedelta(days=31),
    "all": dt.timedelta(days=30 * 366),
}


def _utc_ms(t: dt.datetime) -> int:
    """Epoch millis of a datetime, naive values read as UTC."""
    if t.tzinfo is not None:
        return int(t.timestamp() * 1000)
    return calendar.timegm(t.timetuple()) * 1000 + t.microsecond // 1000


def _utc_lit(t: dt.datetime) -> Column:
    """Timestamp literal from a datetime, naive values read as UTC.

    NEVER pass a datetime straight to F.lit: PySpark converts naive
    datetimes through the OS timezone, so the same query would select
    different windows on a non-UTC host. Epoch-millis literals are
    timezone-free.
    """
    return F.timestamp_millis(F.lit(_utc_ms(t)))


def _utc_sql(t: dt.datetime) -> str:
    """SQL text of :func:`_utc_lit` (same tz-free epoch-millis literal)."""
    return f"timestamp_millis({_utc_ms(t)})"


# Algebraic merge of partial aggregates (Aggregator.java:17-30), one SQL
# expression per op. View sums are exact micros multiples
# (operators/view.build_view), so the merge recovers each group's
# micros-integer and re-sums as exact longs — order-independent like
# the view build itself; the divide back to double happens once, after
# the merge. The D suffix keeps the divisor a double: a bare 1000000.0
# is a SQL decimal.
_MICROS_SUM = "sum(CAST(round(`sum` * 1000000) AS BIGINT)) / 1000000.0D"
_MERGED_SQL = {
    "count": "sum(`count`)",
    "sum": _MICROS_SUM,
    "avg": f"{_MICROS_SUM} / sum(`count`)",
}


def _merged_aggs() -> list[Column]:
    return [F.expr(f"{_MERGED_SQL[op]} AS `{op}`") for op in AGGREGATE_OPS]


# group column → (response key expression, response key name); the
# response is (key, <op>), one field of the aggregate triple
# (QueryingService.java:205-229)
_RESPONSE_KEY = {
    "window_start": ("unix_millis(window_start)", "timestamp"),
    "gh": ("gh", "geohash"),
}


def _query(
    view: DataFrame,
    op: str,
    cells: list[str],
    precision: int,
    time_sql: list[str],
    days: tuple[dt.datetime | None, dt.datetime | None],
    group: str,
) -> DataFrame:
    """The shared plan of history, history_interval and snapshot:
    filter the view by one SQL predicate, merge each ``group``'s
    partials into ``op`` (A7), and return (key, <op>) ascending by key,
    sorted in one partition (see the module docstring). Two SQL strings
    instead of per-term Column calls keep the build to a few Py4J calls.

    All SQL text comes from validated input: base-32 cells
    (validate_geohashes or the geo cover), epoch-millis integers, ISO
    dates and AGGREGATE_OPS names. Cells at least ``precision`` long
    match their truncation exactly, shorter ones as prefixes.

    ``days`` bounds the ws_date partition column of materialized views
    (sources/sinks.write_view): Spark cannot infer it from window_start
    predicates, and this is what turns a time-range query into a
    partition-pruned scan. In-memory views have no ws_date."""
    exact = [c[:precision] for c in cells if len(c) >= precision]
    terms = [f"startswith(gh, '{c}')" for c in cells if len(c) < precision]
    if exact:
        terms.insert(0, "gh IN (" + ", ".join(f"'{c}'" for c in exact) + ")")
    where = ["(" + (" OR ".join(terms) or "false") + ")", *time_sql]
    if "ws_date" in view.columns:
        lo, hi = days
        if lo is not None:
            where.append(f"ws_date >= '{lo.date().isoformat()}'")
        if hi is not None:
            where.append(f"ws_date <= '{hi.date().isoformat()}'")
    key_sql, key = _RESPONSE_KEY[group]
    return (
        view.where(" AND ".join(where))
        .groupBy(group)
        .agg(F.expr(f"{_MERGED_SQL[op]} AS `{op}`"))
        .selectExpr(f"{key_sql} AS `{key}`", f"`{op}`")
        .coalesce(1)
        .sortWithinPartitions(key)
    )


def history(
    view: DataFrame,
    op: str,
    geohashes: list[str],
    from_ts: dt.datetime | None = None,
    to_ts: dt.datetime | None = None,
    precision: int = 6,
) -> DataFrame:
    """History roll-up (A4): per window_start, merge the aggregates of
    all requested cells; ascending time order (O1).

    Cells are truncated to the view precision and matched exactly,
    like the store-key lookups at querying/QueryingController.java:48-50
    (prefixes shorter than the precision match via startswith — the
    documented generalization of SURVEY.md §2.2 P4).

    Columns: (timestamp BIGINT epoch-millis, <op>) — the envelope
    shape of QueryingService.java:118-121.
    """
    validate_aggregate_op(op)
    cells = validate_geohashes(geohashes)
    validate_time_range(from_ts, to_ts)
    time_sql = []
    if from_ts is not None:
        time_sql.append(f"window_start >= {_utc_sql(from_ts)}")
    if to_ts is not None:
        time_sql.append(f"window_start <= {_utc_sql(to_ts)}")
    return _query(view, op, cells, precision, time_sql, (from_ts, to_ts), "window_start")


def history_interval(
    view: DataFrame,
    op: str,
    geohashes: list[str],
    interval: str,
    to_ts: dt.datetime | None = None,
    precision: int = 6,
) -> DataFrame:
    """Spatio-temporal history (A5): range = [to − interval, to].

    ``to`` defaults to the max event time in the view — NOT
    wall-clock: the reference uses System.currentTimeMillis
    (querying/QueryingController.java:65), which is non-reproducible;
    data-derived "now" is the deterministic stand-in (SURVEY.md §7.1.3).
    """
    validate_aggregate_op(op)
    validate_interval(interval)
    cells = validate_geohashes(geohashes)
    if to_ts is None:
        # derive "now" as tz-free epoch millis (collecting a
        # timestamp would round-trip through the OS timezone)
        ms = view.agg(F.max(F.unix_millis("window_start")).alias("m")).collect()[0]["m"]
        to_ts = dt.datetime(1970, 1, 1) + dt.timedelta(milliseconds=ms)
    to_sql = _utc_sql(to_ts)
    try:
        lower_ts = to_ts - _INTERVAL_LOWER[interval]
    except OverflowError:  # "all" near the epoch — clamp, don't crash
        lower_ts = dt.datetime(1, 1, 1)
    time_sql = [
        f"window_start >= {to_sql} - {_INTERVAL_EXPR[interval]}",
        f"window_start <= {to_sql}",
    ]
    return _query(view, op, cells, precision, time_sql, (lower_ts, to_ts), "window_start")


def snapshot(
    view: DataFrame,
    op: str,
    ts: dt.datetime,
    bbox: tuple[float, float, float, float],
    precision: int = 6,
) -> DataFrame:
    """Snapshot roll-up (A6): per-cell aggregate at the 1-hour window
    containing ``ts``, over cells covering bbox (N, W, S, E).

    The reference truncates ts to the hour
    (querying/QueryingController.java:82,240-249 — UTC here, §2.7 F3),
    covers the bbox (GeoHash.coverBoundingBox, :192), then
    brute-force-enumerates all 32^(p-len) completions of each covering
    prefix for exact point fetches (:204-205). The enumeration is an
    anti-pattern at scale (§4): a PREFIX predicate selects exactly the
    stored completions, so we push `startswith(prefix)` instead —
    semantically identical, and it compiles to a native string-prefix
    filter the scan can min/max-skip on.

    Columns: (geohash, <op>), ascending by geohash (O2).
    """
    validate_aggregate_op(op)
    north, west, south, east = bbox
    hour = ts.replace(minute=0, second=0, microsecond=0)
    prefixes = geo.cover_bbox_adaptive(north, west, south, east, max_precision=precision)
    time_sql = [f"window_start = {_utc_sql(hour)}"]
    return _query(view, op, prefixes, precision, time_sql, (hour, hour), "gh")


def reaggregate_precision(view: DataFrame, precision: int) -> DataFrame:
    """Query-time precision re-aggregation: the precision-6 view
    re-keyed to a coarser geohash grid by prefix truncation + the A3
    algebraic merge.

    The reference materializes one store per configured precision and
    lets the caller pick via ``gh_precision``
    (ingestion/KafkaStreamsAggregator.java:39 store-per-precision,
    querying/QueryingService.java:58-60). Here one precision-6 store
    serves every coarser grid: geohash prefixes nest, so
    substring(gh, 1, p) + merge IS the coarser store — computed on
    ~cells × hours rows, never raw events. At 100 TB the input is the
    view (already ~10^6× smaller than raw), and the shuffle is keyed
    by the coarser (gh, window) with map-side partial merge.
    """
    if not 1 <= precision <= 12:
        raise ValueError(f"precision must be in [1, 12], got {precision}")
    return (
        view.withColumn("gh", F.substring(F.col("gh"), 1, precision))
        .groupBy("gh", "window_start")
        .agg(*_merged_aggs())
        .select("gh", "window_start", "count", "sum", "avg")
    )


def merge_views(*views: DataFrame) -> DataFrame:
    """Union per-partition/per-host partial views and re-merge (A3/A7):
    the distributed-aggregation identity
    merge(agg(P1), agg(P2)) == agg(P1 ∪ P2)."""
    if not views:
        raise ValueError("merge_views needs at least one view")
    out = views[0]
    for v in views[1:]:
        out = out.unionByName(v)
    return (
        out.groupBy("gh", "window_start")
        .agg(*_merged_aggs())
        .select("gh", "window_start", "count", "sum", "avg")
    )
