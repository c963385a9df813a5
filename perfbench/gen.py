"""Seeded input generators for the benchmark workloads.

Every generator takes the workload seed and draws from
``numpy.random.Generator(PCG64([seed, <stream tag>]))``, one per input
stream, so the same seed gives the same values, and
:func:`write_jsonl`, :func:`write_parquet` and :func:`write_corpus`
turn them into the same bytes. The program under test receives only
what these functions write.

Readings follow the program's input record (``schema.READING_SCHEMA``):
epoch-millis ``timestamp``, ``sensorId``, 12-char ``geohash``,
``tempVal`` with two decimals, ``tempUnit``. Documents and embeddings
follow the fixture schema of FIXTURES.md §2.3.
"""

from __future__ import annotations

import json
import os
import zlib
from dataclasses import dataclass, field

import numpy as np

BASE32 = "0123456789bcdefghjkmnpqrstuvwxyz"
HOUR_MS = 3_600_000
# Every cell lives under this precision-2 geohash, so bbox snapshots
# drawn inside its box always hit stored cells.
REGION = "u0"
# Event time of the first generated hour (2024-03-04T00:00Z).
EPOCH_MS = 1_709_510_400_000
# Cell skew: a heavy head (over 2000 cells, the top 1% draw ~54% of
# readings) so hot cells exist; a synthetic choice, not a measured one.
ZIPF_S = 1.1


def rng_for(seed: int, stream: str) -> np.random.Generator:
    """One independent generator per (seed, input stream), so adding a
    stream never shifts the values of another."""
    return np.random.Generator(np.random.PCG64([seed, zlib.crc32(stream.encode())]))


def b32(values: np.ndarray, width: int) -> list[str]:
    """Fixed-width base-32 strings of non-negative integers."""
    out = []
    for v in values.tolist():
        chars = []
        for _ in range(width):
            chars.append(BASE32[v & 31])
            v >>= 5
        out.append("".join(reversed(chars)))
    return out


def decode_bbox(gh: str) -> tuple[float, float, float, float]:
    """(north, west, south, east) of a geohash cell."""
    lat = [-90.0, 90.0]
    lon = [-180.0, 180.0]
    even = True
    for c in gh:
        v = BASE32.index(c)
        for bit in (16, 8, 4, 2, 1):
            rng = lon if even else lat
            mid = (rng[0] + rng[1]) / 2
            if v & bit:
                rng[0] = mid
            else:
                rng[1] = mid
            even = not even
    return lat[1], lon[0], lat[0], lon[1]


def zipf_weights(n: int, s: float = ZIPF_S) -> np.ndarray:
    w = 1.0 / np.arange(1, n + 1, dtype=np.float64) ** s
    return w / w.sum()


@dataclass
class Readings:
    """Columnar readings plus the generator's own bookkeeping: ``late``
    marks rows written later than the grace period (the stream drops
    them), ``out_of_order`` rows arrive behind their chunk's newest
    event time but within the grace period."""

    timestamp: np.ndarray
    geohash: list[str]
    cents: np.ndarray
    sensor: np.ndarray
    late: np.ndarray = field(default=None)
    out_of_order: np.ndarray = field(default=None)

    def __post_init__(self):
        n = len(self.timestamp)
        if self.late is None:
            self.late = np.zeros(n, dtype=bool)
        if self.out_of_order is None:
            self.out_of_order = np.zeros(n, dtype=bool)

    def __len__(self) -> int:
        return len(self.timestamp)

    def records(self) -> list[dict]:
        return [
            {
                "timestamp": int(t),
                "sensorId": f"s{int(s):05d}",
                "geohash": g,
                "tempVal": int(c) / 100.0,
                "tempUnit": "c",
            }
            for t, g, c, s in zip(
                self.timestamp.tolist(), self.geohash, self.cents.tolist(),
                self.sensor.tolist(),
            )
        ]

    def take(self, idx: np.ndarray) -> "Readings":
        return Readings(
            self.timestamp[idx], [self.geohash[i] for i in idx.tolist()],
            self.cents[idx], self.sensor[idx], self.late[idx],
            self.out_of_order[idx],
        )

    @staticmethod
    def concat(parts: list["Readings"]) -> "Readings":
        return Readings(
            np.concatenate([p.timestamp for p in parts]),
            [g for p in parts for g in p.geohash],
            np.concatenate([p.cents for p in parts]),
            np.concatenate([p.sensor for p in parts]),
            np.concatenate([p.late for p in parts]),
            np.concatenate([p.out_of_order for p in parts]),
        )


def make_cells(seed: int, n_cells: int) -> list[str]:
    """``n_cells`` distinct precision-6 cells under :data:`REGION`,
    ordered hottest first (index = Zipf rank)."""
    rng = rng_for(seed, "cells")
    ids = rng.choice(32 ** 4, size=n_cells, replace=False)
    return [REGION + s for s in b32(ids, 4)]


def _readings(rng, cells, cell_idx, timestamp) -> Readings:
    n = len(cell_idx)
    suffix = b32(rng.integers(0, 32 ** 6, size=n), 6)
    geohash = [cells[c] + s for c, s in zip(cell_idx.tolist(), suffix)]
    cents = np.round(rng.normal(1500, 800, size=n)).astype(np.int64)
    sensor = rng.integers(0, 50_000, size=n)
    return Readings(np.asarray(timestamp, dtype=np.int64), geohash, cents, sensor)


def cell_readings(seed: int, stream: str, cells: list[str], hour_ms: int) -> Readings:
    """One reading in each of ``cells`` (precision-6) inside the hour
    that starts at ``hour_ms``."""
    rng = rng_for(seed, stream)
    ts = hour_ms + rng.integers(0, HOUR_MS, size=len(cells))
    return _readings(rng, cells, np.arange(len(cells)), ts)


@dataclass
class StreamPlan:
    """Backlog chunks (drained first) and live chunks (written one per
    tick afterwards) for the serve_ingest workload."""

    backlog: list[Readings]
    live: list[Readings]

    @property
    def all(self) -> Readings:
        return Readings.concat(self.backlog + self.live)


def stream_plan(
    seed: int,
    cells: list[str],
    backlog_chunks: int,
    backlog_rows: int,
    backlog_hours: int,
    live_chunks: int,
    live_rows: int,
    live_hours_per_chunk: float,
    out_of_order_share: float,
    late_share: float,
    grace_ms: int,
) -> StreamPlan:
    """Readings for a stream that is behind, then live.

    Backlog chunk ``k`` covers the k-th slice of ``backlog_hours`` in
    event time, in order. Live chunks continue after the backlog; in
    each, ``out_of_order_share`` of the rows lie up to grace/2 behind
    the chunk's slice, which the watermark still admits, and
    ``late_share`` lie more than grace + 2 h behind the backlog's last
    event, which the watermark has passed once the backlog is drained.
    Each late row gets its own (cell, hour) key: Spark counts rows
    dropped by the watermark after map-side partial aggregation, so
    distinct keys make that count equal the number of late rows."""
    rng = rng_for(seed, "stream")
    p = zipf_weights(len(cells))
    backlog = []
    span = backlog_hours * HOUR_MS
    for k in range(backlog_chunks):
        lo = EPOCH_MS + span * k // backlog_chunks
        hi = EPOCH_MS + span * (k + 1) // backlog_chunks
        ts = np.sort(rng.integers(lo, hi, size=backlog_rows))
        cell_idx = rng.choice(len(cells), size=backlog_rows, p=p)
        backlog.append(_readings(rng, cells, cell_idx, ts))
    backlog_end = EPOCH_MS + span
    late_hi = backlog_end - grace_ms - 2 * HOUR_MS
    late_hours = (late_hi - EPOCH_MS) // HOUR_MS
    n_late = int(round(live_rows * late_share))
    n_ooo = int(round(live_rows * out_of_order_share))
    if n_late and late_hours * len(cells) < n_late * live_chunks:
        raise ValueError("the backlog must span grace + 2 h and leave a "
                         "(cell, hour) key for every late row")
    n_in = live_rows - n_late - n_ooo
    # distinct (cell, hour) keys for every late row of every chunk
    late_keys = rng.choice(
        max(0, len(cells) * late_hours), size=n_late * live_chunks, replace=False
    )
    step = int(live_hours_per_chunk * HOUR_MS)
    live = []
    for k in range(live_chunks):
        lo = backlog_end + k * step
        ts_in = np.sort(rng.integers(lo, lo + step, size=n_in))
        ts_ooo = rng.integers(max(EPOCH_MS, lo - grace_ms // 2), lo, size=n_ooo)
        keys = late_keys[k * n_late:(k + 1) * n_late]
        late_cell = keys // late_hours
        ts_late = EPOCH_MS + (keys % late_hours) * HOUR_MS + rng.integers(
            0, HOUR_MS, size=n_late
        )
        cell_idx = np.concatenate(
            [rng.choice(len(cells), size=n_in + n_ooo, p=p), late_cell]
        )
        r = _readings(rng, cells, cell_idx, np.concatenate([ts_in, ts_ooo, ts_late]))
        r.out_of_order[n_in:n_in + n_ooo] = True
        r.late[n_in + n_ooo:] = True
        live.append(r.take(rng.permutation(live_rows)))
    return StreamPlan(backlog, live)


def write_jsonl(readings: Readings, path: str) -> None:
    """One JSON reading per line — the stream source's record format."""
    with open(path, "w") as f:
        for rec in readings.records():
            f.write(json.dumps(rec, separators=(",", ":")) + "\n")


def write_parquet(readings: Readings, path: str) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    table = pa.table({
        "timestamp": pa.array(readings.timestamp, pa.int64()),
        "sensorId": pa.array([f"s{s:05d}" for s in readings.sensor.tolist()]),
        "geohash": pa.array(readings.geohash),
        "tempVal": pa.array(readings.cents / 100.0, pa.float64()),
        "tempUnit": pa.array(["c"] * len(readings)),
    })
    pq.write_table(table, path, compression="snappy")


# -- corpus ---------------------------------------------------------------

LANGS = ("en", "es", "de", "fr", "zh")
BOILERPLATE_PHRASES = 4
BOILERPLATE_LEN = 10


def _alpha(i: int) -> str:
    """Distinct lowercase suffix per vocabulary index."""
    s = ""
    while True:
        s = chr(97 + i % 26) + s
        i //= 26
        if i == 0:
            return s


@dataclass
class Corpus:
    doc_id: np.ndarray
    text: list[str]
    lang: list[str]
    source: list[str]
    near_dup_of: np.ndarray  # -1 for originals
    boilerplate: np.ndarray  # bool
    vec_id: np.ndarray
    embedding: np.ndarray  # float32 [n, dim]
    label: np.ndarray


def corpus(
    seed: int,
    n_docs: int,
    n_vecs: int,
    near_dup_share: float,
    boilerplate_share: float,
    vocab: int = 3000,
    dim: int = 64,
) -> Corpus:
    """Documents over a Zipf vocabulary of ASCII words.

    ``near_dup_share`` of the documents copy an earlier original with
    1–3 token substitutions (MinHash/SimHash/prefix-join pairs);
    ``boilerplate_share`` of all documents carry one of a few fixed
    10-token phrases at the start or end (boilerplate scrub). Vectors
    cluster around one centre per label, and ``near_dup_share`` of
    them copy an earlier vector with small noise."""
    rng = rng_for(seed, "corpus")
    lengths = rng.integers(3, 10, size=vocab)
    letters = rng.integers(0, 26, size=int(lengths.sum()))
    words, pos = [], 0
    for i, n in enumerate(lengths.tolist()):
        stem = "".join(chr(97 + c) for c in letters[pos:pos + n].tolist())
        words.append(stem + _alpha(i))
        pos += n
    wp = zipf_weights(vocab, 1.0)
    phrases = [
        rng.choice(vocab, size=BOILERPLATE_LEN, p=wp).tolist()
        for _ in range(BOILERPLATE_PHRASES)
    ]
    toks: list[list[int]] = []
    near = np.full(n_docs, -1, dtype=np.int64)
    for i in range(n_docs):
        if i >= 10 and rng.random() < near_dup_share:
            src = int(rng.integers(0, i))
            while near[src] >= 0:
                src = int(near[src])
            t = list(toks[src])
            for _ in range(int(rng.integers(1, 4))):
                t[int(rng.integers(0, len(t)))] = int(rng.choice(vocab, p=wp))
            near[i] = src
        else:
            t = rng.choice(vocab, size=int(rng.integers(40, 120)), p=wp).tolist()
        toks.append(t)
    boiler = rng.random(n_docs) < boilerplate_share
    text = []
    for i, t in enumerate(toks):
        body = [words[w] for w in t]
        if boiler[i]:
            ph = [words[w] for w in phrases[int(rng.integers(0, BOILERPLATE_PHRASES))]]
            body = ph + body if rng.random() < 0.5 else body + ph
        text.append(" ".join(body))
    lang = [LANGS[c] for c in rng.integers(0, len(LANGS), size=n_docs).tolist()]
    source = [f"src{c}" for c in rng.integers(0, 20, size=n_docs).tolist()]

    centres = rng.normal(0.0, 0.12, size=(10, dim))
    label = rng.integers(0, 10, size=n_vecs)
    emb = centres[label] + rng.normal(0.0, 0.05, size=(n_vecs, dim))
    for i in range(10, n_vecs):
        if rng.random() < near_dup_share:
            src = int(rng.integers(0, i))
            emb[i] = emb[src] + rng.normal(0.0, 0.002, size=dim)
            label[i] = label[src]
    return Corpus(
        np.arange(n_docs, dtype=np.int64), text, lang, source, near, boiler,
        np.arange(n_vecs, dtype=np.int64), emb.astype(np.float32),
        label.astype(np.int32),
    )


def write_corpus(c: Corpus, out_dir: str) -> None:
    """``documents.parquet`` and ``embeddings.parquet`` in the fixture
    schema, so ``inventory`` rows and their DuckDB oracles read them
    as they read a scale-factor directory."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    docs = pa.table({
        "doc_id": pa.array(c.doc_id, pa.int64()),
        "text": pa.array(c.text),
        "lang": pa.array(c.lang),
        "source": pa.array(c.source),
        "n_chars": pa.array([len(t) for t in c.text], pa.int64()),
    })
    emb = pa.table({
        "vec_id": pa.array(c.vec_id, pa.int64()),
        "embedding": pa.array(list(c.embedding), pa.list_(pa.float32())),
        "label": pa.array(c.label, pa.int32()),
    })
    pq.write_table(docs, os.path.join(out_dir, "documents.parquet"))
    pq.write_table(emb, os.path.join(out_dir, "embeddings.parquet"))
