"""Micro-batch feeder: chunks ``events.parquet`` into K parquet files so a
streaming file source replays them as K micro-batches
(``maxFilesPerTrigger=1``), preserving global event-time order.

Variants:

* ``sentinels=True`` appends ONE far-future marker event (user_id=-1).
  In append mode, windows/sessions only emit once the watermark passes
  them; end-of-stream alone never closes the final windows. The sentinel
  advances the watermark past all real event time; the no-data flush
  micro-batch that ``availableNow`` runs after the last file (watermark
  changed + stateful ops pending ⇒ ``noDataMicroBatches``, on by
  default and asserted by the runner before every stream starts) then
  evicts/times-out all remaining real state. (r1–r4 used TWO sentinels
  — the second existed only to host that final batch; the flush batch
  provides it for free, one micro-batch cheaper per sentinel feed —
  verified against all watermark-dependent oracles at sf0.01.) Queries must NOT filter
  sentinels inside the streaming plan — Catalyst pushes such filters
  below the EventTimeWatermark node and the watermark never advances
  (measured); filter the materialized result instead.
* ``replay=(i, ...)`` re-appends chunks after the originals — duplicate
  delivery for dedup tests (at-least-once source simulation).
* ``late_chunk=i`` holds chunk i back until the end — out-of-order arrival
  for watermark late-drop tests.
"""

from __future__ import annotations

import os
import tempfile

import pyarrow as pa
import pyarrow.parquet as pq

SENTINEL_DAYS = (30,)

# Default micro-batch count for every chunked feed. The state-store
# changefeed / time-travel oracles (streaming/queries.py) predict per-batch
# state attribution from the ``i * n // K`` chunk boundaries this module
# cuts, so they interpolate THIS constant into their SQL — changing it
# re-derives feeder and oracles together instead of silently skewing the
# batch-id arithmetic (ADVICE r9).
DEFAULT_CHUNKS = 3

_cache: dict[tuple, str] = {}
_max_ts_us: dict[str, int] = {}


_num_rows: dict[str, int] = {}


def events_num_rows(sf_dir: str) -> int:
    """Row count of the events table — parquet footer metadata only."""
    if sf_dir not in _num_rows:
        _num_rows[sf_dir] = pq.ParquetFile(
            f"{sf_dir}/events.parquet"
        ).metadata.num_rows
    return _num_rows[sf_dir]


def events_max_ts(sf_dir: str):
    """Max real event time (µs-truncated, naive UTC datetime) for ``sf_dir``.

    The sentinel cutoff for stripping far-future marker windows from
    materialized streaming results. Read via a single-column pyarrow scan —
    never a Spark batch action inside a streaming query function (an extra
    full scan of events per query otherwise)."""
    if sf_dir not in _max_ts_us:
        ts = pq.read_table(f"{sf_dir}/events.parquet", columns=["ts"]).column("ts")
        _max_ts_us[sf_dir] = _to_us(pa.compute.max(ts), ts.type)
    import datetime

    return datetime.datetime(1970, 1, 1) + datetime.timedelta(
        microseconds=_max_ts_us[sf_dir]
    )


def _to_us(scalar, ts_type) -> int:
    """Max-ts scalar → epoch µs, whatever the on-disk ts representation
    (timestamp[ns] / raw int64 nanos → floor-div, timestamp[us]/[ms]/[s]
    → exact). Raw integer columns are classified 'ns' — same rule as
    catalog.events_ts_unit — so the two sniffs can never disagree."""
    if pa.types.is_integer(ts_type) or (
        pa.types.is_timestamp(ts_type) and ts_type.unit == "ns"
    ):
        return scalar.cast(pa.int64()).as_py() // 1000
    return scalar.cast(pa.timestamp("us")).cast(pa.int64()).as_py()


def _sentinel_table(max_ts_us: int, day_offset: int, idx: int, ts_type) -> pa.Table:
    """Far-future marker row whose ts column matches the source table's
    physical type (the streaming source declares ONE schema for the whole
    chunk dir, so sentinel files must not diverge from data files)."""
    us = max_ts_us + day_offset * 86_400 * 1_000_000
    if pa.types.is_integer(ts_type):
        # Raw-integer ts columns hold NANOS (catalog.events_ts_unit's 'ns'
        # classification); a µs-valued int64 sentinel would sit 1000x in
        # the past and stall the watermark forever.
        ts_arr = pa.array([us * 1000], pa.int64()).cast(ts_type)
    else:
        ts_arr = pa.array([us], pa.timestamp("us")).cast(ts_type)
    return pa.table(
        {
            "event_id": pa.array([-1 - idx], pa.int64()),
            "ts": ts_arr,
            "user_id": pa.array([-1], pa.int64()),
            "event_type": pa.array(["__sentinel__"]),
            "value": pa.array([0.0], pa.float64()),
            "props": pa.array(["{}"]),
        }
    )


def chunked_events_dir(
    sf_dir: str,
    n_chunks: int = DEFAULT_CHUNKS,
    *,
    sentinels: bool = True,
    replay: tuple[int, ...] = (),
    late_chunk: int | None = None,
) -> str:
    """Build (or reuse) a chunk directory for the given variant."""
    key = (sf_dir, n_chunks, sentinels, replay, late_chunk)
    if key in _cache and os.path.isdir(_cache[key]):
        return _cache[key]

    table = pq.read_table(f"{sf_dir}/events.parquet")
    n = table.num_rows
    chunks = []
    for i in range(n_chunks):
        lo, hi = i * n // n_chunks, (i + 1) * n // n_chunks
        chunks.append(table.slice(lo, hi - lo))

    order: list[pa.Table] = []
    held = None
    for i, c in enumerate(chunks):
        if i == late_chunk:
            held = c
            continue
        order.append(c)
    for i in replay:
        order.append(chunks[i])
    if held is not None:
        order.append(held)  # arrives last → late vs the advanced watermark
    if sentinels:
        ts_col = table.column("ts")
        max_us = _to_us(pa.compute.max(ts_col), ts_col.type)
        for j, days in enumerate(SENTINEL_DAYS):
            order.append(_sentinel_table(max_us, days, j, ts_col.type))

    out = tempfile.mkdtemp(prefix="sss_feed_")
    base = 1_600_000_000
    for i, c in enumerate(order):
        path = os.path.join(out, f"{i:04d}.parquet")
        pq.write_table(c, path)
        os.utime(path, (base + i, base + i))  # file source processes in mtime order
    _cache[key] = out
    return out


def chunked_table_dir(sf_dir: str, table: str, n_chunks: int = DEFAULT_CHUNKS) -> str:
    """Chunk an arbitrary table into K parquet files (generic micro-batch
    feed for streams without event time — no sentinels needed)."""
    key = (sf_dir, table, n_chunks)
    if key in _cache and os.path.isdir(_cache[key]):
        return _cache[key]
    t = pq.read_table(f"{sf_dir}/{table}.parquet")
    n = t.num_rows
    out = tempfile.mkdtemp(prefix=f"sss_feed_{table}_")
    base = 1_600_000_000
    for i in range(n_chunks):
        lo, hi = i * n // n_chunks, (i + 1) * n // n_chunks
        path = os.path.join(out, f"{i:04d}.parquet")
        pq.write_table(t.slice(lo, hi - lo), path)
        os.utime(path, (base + i, base + i))
    _cache[key] = out
    return out


_split_cache: dict[tuple, tuple[str, str]] = {}


def chunked_events_split_dirs(
    sf_dir: str, n_chunks: int = DEFAULT_CHUNKS
) -> tuple[str, str]:
    """Two DISJOINT feeds (even / odd ``event_id``), each chunked and
    carrying its own sentinel — the substrate for the multi-source union
    topology (ST23). Each source needs its own sentinel because Spark's
    global watermark is the MIN across all sources' event-time maxima: a
    sentinel in only one feed leaves the other source's watermark at its
    last real event and the final windows never close (the multi-source
    twin of the filter-pushdown stall documented above). Both sentinels
    are built from the FULL table's max event time so the two sources
    advance in lockstep."""
    key = (sf_dir, n_chunks)
    hit = _split_cache.get(key)
    if hit and all(os.path.isdir(p) for p in hit):
        return hit

    table = pq.read_table(f"{sf_dir}/events.parquet")
    ts_col = table.column("ts")
    max_us = _to_us(pa.compute.max(ts_col), ts_col.type)
    base = 1_600_000_000
    outs: list[str] = []
    for parity in (0, 1):
        mask = pa.compute.equal(
            pa.compute.bit_wise_and(table.column("event_id"), 1), parity
        )
        sub = table.filter(mask)
        n = sub.num_rows
        out = tempfile.mkdtemp(prefix=f"sss_feed_p{parity}_")
        for i in range(n_chunks):
            lo, hi = i * n // n_chunks, (i + 1) * n // n_chunks
            path = os.path.join(out, f"{i:04d}.parquet")
            pq.write_table(sub.slice(lo, hi - lo), path)
            os.utime(path, (base + i, base + i))
        for j, days in enumerate(SENTINEL_DAYS):
            path = os.path.join(out, f"{n_chunks + j:04d}.parquet")
            pq.write_table(_sentinel_table(max_us, days, j, ts_col.type), path)
            os.utime(path, (base + n_chunks + j,) * 2)
        outs.append(out)
    _split_cache[key] = (outs[0], outs[1])
    return _split_cache[key]
