"""Micro-batch feeder: chunks ``events.parquet`` into K parquet files so a
streaming file source replays them as K micro-batches
(``maxFilesPerTrigger=1``), preserving global event-time order.

This module alone decides the cut: K is ``DEFAULT_CHUNKS``, read when a
feed is called, at the bounds of ``cut_bounds``. Every feed is a
``catalog.fill_once`` cache under ``catalog.cache_dir`` (keyed by the
source table's content and K), written by ``cached_feed`` alone.

Variants:

* ``sentinels=True`` appends ONE far-future marker event (user_id=-1)
  to the last data file. In append mode, windows/sessions only emit once
  the watermark passes them; end-of-stream alone never closes the final
  windows. The sentinel advances the watermark past all real event time
  without a micro-batch of its own: Spark filters late rows and evicts
  state against the watermark of the PREVIOUS batch, so the rows that
  share its file are not late. The no-data flush micro-batch that
  ``availableNow`` runs after the last file (watermark changed +
  stateful ops pending ⇒ ``noDataMicroBatches``, on by default and
  asserted by the runner before every stream starts) then
  evicts/times-out all remaining real state: K chunks run K data
  batches plus that flush. Queries must NOT filter sentinels inside the
  streaming plan — Catalyst pushes such filters below the
  EventTimeWatermark node and the watermark never advances (measured).

  Which results can hold the sentinel: the final watermark is the
  sentinel's own time minus the delay, so it never passes the
  sentinel's window, session or event-time timeout, and no append-mode
  window, session or timeout ever emits it — those queries need no
  filter. Operators that emit a row without waiting for its window do
  carry it into a result: outer-join matches (its self-match),
  first-seen dedup, timers at a fixed deadline the watermark passes,
  and state reads of its key. Only those strip it, from the
  materialized result, by the sign of an id column (``user_id < 0``,
  or the join's ``purchase_id``/``click_id``); the ``"__sentinel__"``
  event type is named here alone.
* ``replay=(i, ...)`` re-appends chunks after the originals — duplicate
  delivery for dedup tests (at-least-once source simulation).
* ``late_chunk=i`` holds chunk i back until the end — out-of-order arrival
  for watermark late-drop tests. The sentinel rides in the held chunk's
  file: its rows meet the watermark of earlier batches, set by real data
  alone.
"""

from __future__ import annotations

import os
from collections.abc import Callable, Sequence

import pyarrow as pa
import pyarrow.parquet as pq

from ..catalog import cache_dir, fill_once

# The sentinel's event time: this many days past the last real event.
SENTINEL_DAYS = 30

# K of every feed that does not pin its own, read at call time: no result
# may depend on it (keys whose oracle names a batch pin ``n_chunks``).
DEFAULT_CHUNKS = 3

_MTIME_BASE = 1_600_000_000

_max_ts_us: dict[str, int] = {}
_num_rows: dict[str, int] = {}


def events_num_rows(sf_dir: str) -> int:
    """Row count of the events table — parquet footer metadata only."""
    if sf_dir not in _num_rows:
        _num_rows[sf_dir] = pq.ParquetFile(
            f"{sf_dir}/events.parquet"
        ).metadata.num_rows
    return _num_rows[sf_dir]


def events_max_us(sf_dir: str) -> int:
    """Max real event time of ``sf_dir`` as integer epoch µs (truncated).

    The feeds' sentinels and the streaming queries' timer deadlines all
    read this one value. Read via a single-column pyarrow scan — never a
    Spark batch action inside a streaming query function (an extra full
    scan of events per query otherwise)."""
    if sf_dir not in _max_ts_us:
        ts = pq.read_table(f"{sf_dir}/events.parquet", columns=["ts"]).column("ts")
        _max_ts_us[sf_dir] = _to_us(pa.compute.max(ts), ts.type)
    return _max_ts_us[sf_dir]


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


def _sentinel_table(sf_dir: str, schema: pa.Schema) -> pa.Table:
    """The far-future marker row, ``SENTINEL_DAYS`` past the last real
    event, cast to ``schema`` — the events table's, so the row can ride
    in a data file (the streaming source declares ONE schema for the
    whole chunk dir; a sentinel must not diverge from the data)."""
    us = events_max_us(sf_dir) + SENTINEL_DAYS * 86_400 * 1_000_000
    ts_type = schema.field("ts").type
    if pa.types.is_integer(ts_type):
        # Raw-integer ts columns hold NANOS (catalog.events_ts_unit's 'ns'
        # classification); a µs-valued int64 sentinel would sit 1000x in
        # the past and stall the watermark forever.
        ts_arr = pa.array([us * 1000], pa.int64()).cast(ts_type)
    else:
        ts_arr = pa.array([us], pa.timestamp("us")).cast(ts_type)
    return pa.table(
        {
            "event_id": pa.array([-1], pa.int64()),
            "ts": ts_arr,
            "user_id": pa.array([-1], pa.int64()),
            "event_type": pa.array(["__sentinel__"]),
            "value": pa.array([0.0], pa.float64()),
            "props": pa.array(["{}"]),
        }
    ).select(schema.names).cast(schema)


def cut_bounds(n_rows: int, n_chunks: int | None = None) -> list[tuple[int, int]]:
    """The one micro-batch cut: the ``[i * n // K, (i + 1) * n // K)`` row
    ranges of ``n_rows`` rows, K = ``n_chunks`` or else ``DEFAULT_CHUNKS``."""
    k = n_chunks or DEFAULT_CHUNKS
    return [(i * n_rows // k, (i + 1) * n_rows // k) for i in range(k)]


def _chunks(table: pa.Table, n_chunks: int) -> list[pa.Table]:
    bounds = cut_bounds(table.num_rows, n_chunks)
    return [table.slice(lo, hi - lo) for lo, hi in bounds]


def cached_feed(
    prefix: str, sf_dir: str, table: str, build: Callable[[], Sequence[pa.Table]]
) -> str:
    """The one writer of a feed: the micro-batch tables ``build()``
    returns, in arrival order, as ``NNNN.parquet`` files with strictly
    increasing mtimes (the file source replays in mtime order), under
    ``catalog.cache_dir(prefix, sf_dir, table)``. ``build`` runs only
    when that dir lacks its ``catalog.fill_once`` marker."""
    # The cache is keyed by source content only: a change to the files
    # written for the same arguments must change the prefix.
    out = cache_dir(prefix, sf_dir, table)

    def fill() -> None:
        for i, t in enumerate(build()):
            path = os.path.join(out, f"{i:04d}.parquet")
            pq.write_table(t, path)
            os.utime(path, (_MTIME_BASE + i, _MTIME_BASE + i))

    fill_once(out, fill)
    return out


def chunked_events_dir(
    sf_dir: str,
    n_chunks: int | None = None,
    *,
    sentinels: bool = True,
    replay: tuple[int, ...] = (),
    late_chunk: int | None = None,
) -> str:
    """The events feed for the given variant; ``replay=(-1,)`` is the last
    chunk at any K."""
    n_chunks = n_chunks or DEFAULT_CHUNKS

    def build() -> list[pa.Table]:
        table = pq.read_table(f"{sf_dir}/events.parquet")
        chunks = _chunks(table, n_chunks)
        order = [c for i, c in enumerate(chunks) if i != late_chunk]
        order += [chunks[i] for i in replay]
        if late_chunk is not None:
            order.append(chunks[late_chunk])  # arrives last → late vs the watermark
        if sentinels:
            order[-1] = pa.concat_tables(
                [order[-1], _sentinel_table(sf_dir, table.schema)]
            )
        return order

    prefix = f"sss_feed3_k{n_chunks}_s{int(sentinels)}"
    prefix += "".join(f"_r{i}" for i in replay)
    if late_chunk is not None:
        prefix += f"_l{late_chunk}"
    return cached_feed(prefix, sf_dir, "events", build)


def chunked_table_dir(sf_dir: str, table: str) -> str:
    """Chunk an arbitrary table into K parquet files (generic micro-batch
    feed for streams without event time — no sentinels needed)."""
    k = DEFAULT_CHUNKS
    return cached_feed(
        f"sss_feed_{table}_k{k}",
        sf_dir,
        table,
        lambda: _chunks(pq.read_table(f"{sf_dir}/{table}.parquet"), k),
    )


def chunked_events_split_dirs(sf_dir: str) -> tuple[str, str]:
    """Two DISJOINT feeds (even / odd ``event_id``), each chunked and
    carrying its own sentinel in its last file — the substrate for the
    multi-source union topology (ST23). Each source needs its own
    sentinel because Spark's global watermark is the MIN across all
    sources' event-time maxima: a sentinel in only one feed leaves the
    other source's watermark at its last real event and the final
    windows never close (the multi-source twin of the filter-pushdown
    stall documented above). Both sentinels are built from the FULL
    table's max event time so the two sources advance in lockstep."""
    k = DEFAULT_CHUNKS

    def feed(parity: int) -> str:
        def build() -> list[pa.Table]:
            table = pq.read_table(f"{sf_dir}/events.parquet")
            mask = pa.compute.equal(
                pa.compute.bit_wise_and(table.column("event_id"), 1), parity
            )
            chunks = _chunks(table.filter(mask), k)
            chunks[-1] = pa.concat_tables(
                [chunks[-1], _sentinel_table(sf_dir, table.schema)]
            )
            return chunks

        return cached_feed(f"sss_feed2_p{parity}_k{k}", sf_dir, "events", build)

    return feed(0), feed(1)
