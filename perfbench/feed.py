"""Seeded stream feed: the events table cut into chunk files.

Chunks follow event time in five-minute windows. The seed decides three
things, none of which changes the multiset of events in the full feed:

- displacement: an event in the last four minutes of its window may slip
  into the next window's chunk, so it arrives out of order but never more
  than five minutes behind the newest event already delivered;
- the row order inside each chunk;
- redelivery: a chunk may be delivered a second time right after itself,
  as an at-least-once producer retrying a write would.

Every event therefore arrives less than ten minutes behind the newest
event seen before its batch, inside the speed layer's 10-minute watermark,
so a correct engine drops nothing.

A run delivers a slice of the feed (``crossing_slice``) that carries the
watermark past the end of a tumbling window, so the stateful view
finalizes a window and evicts its state while it is measured, and an
engine that dropped on-time rows for the next window would show it.
"""

from __future__ import annotations

import hashlib
import os
import time
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

CHUNK_US = 5 * 60 * 1_000_000
DISPLACE_US = 4 * 60 * 1_000_000
DISPLACE_P = 0.1
REDELIVER_P = 0.1
WINDOW_US = 60 * 60 * 1_000_000     # tumbling_agg's window
WATERMARK_US = 10 * 60 * 1_000_000  # the speed layer's watermark


@dataclass(frozen=True)
class Chunk:
    name: str
    window: int
    redelivery: bool
    rows: pa.Table


def build_feed(events: pa.Table, seed: int) -> list[Chunk]:
    """Every chunk file of the feed, in delivery order."""
    rng = np.random.default_rng(seed)
    ts = pc.cast(events["ts"], pa.int64()).to_numpy()
    t0 = ts.min() - ts.min() % CHUNK_US
    window = (ts - t0) // CHUNK_US
    late = ((ts - t0) % CHUNK_US >= CHUNK_US - DISPLACE_US) & (rng.random(len(ts)) < DISPLACE_P)
    window = window + late
    order = np.argsort(window, kind="stable")
    bounds = np.searchsorted(window[order], np.arange(window.max() + 2))
    feed: list[Chunk] = []
    for w in range(window.max() + 1):
        idx = order[bounds[w]:bounds[w + 1]]
        if len(idx) == 0:
            continue
        rows = events.take(pa.array(rng.permutation(idx)))
        feed.append(Chunk(f"chunk-{len(feed):05d}-w{w:04d}.parquet", w, False, rows))
        if rng.random() < REDELIVER_P:
            feed.append(Chunk(f"chunk-{len(feed):05d}-w{w:04d}-again.parquet", w, True, rows))
    return feed


def _ts_range(c: Chunk) -> tuple[int, int]:
    ts = pc.cast(c.rows["ts"], pa.int64())
    return pc.min(ts).as_py(), pc.max(ts).as_py()


def first_window_end(files: list[Chunk]) -> int:
    """End (epoch us) of the tumbling window the first file opens."""
    return (_ts_range(files[0])[0] // WINDOW_US + 1) * WINDOW_US


def watermark_before_last(files: list[Chunk]) -> int:
    """The watermark once every file but the last has been read: the
    newest event time seen less ``WATERMARK_US``."""
    return max(_ts_range(c)[1] for c in files[:-1]) - WATERMARK_US


def crossing_slice(feed: list[Chunk], n_files: int) -> list[Chunk]:
    """The earliest ``n_files`` consecutive files, starting on a first
    delivery, whose files but the last move the watermark past the end of
    the window the first file opens. The last file's batch then runs with
    that window closed: its state is evicted during the run."""
    for s in range(len(feed) - n_files + 1):
        files = feed[s:s + n_files]
        if not files[0].redelivery and watermark_before_last(files) > first_window_end(files):
            return files
    raise ValueError(f"no {n_files} consecutive files cross a window end")


def manifest(feed: list[Chunk]) -> list[tuple]:
    return [(c.name, c.window, c.redelivery, c.rows.num_rows) for c in feed]


def feed_digest(feed: list[Chunk]) -> str:
    h = hashlib.sha256()
    for c in feed:
        h.update(c.name.encode())
        h.update(c.rows["event_id"].to_numpy().tobytes())
    return h.hexdigest()


def write_feed(feed: list[Chunk], out_dir: str) -> None:
    """One parquet file per chunk, with strictly increasing modification
    times: the file source admits new files oldest first, so file order
    is delivery order even when several are waiting."""
    os.makedirs(out_dir, exist_ok=True)
    base = time.time_ns()
    for i, c in enumerate(feed):
        path = os.path.join(out_dir, c.name)
        pq.write_table(c.rows, path)
        ns = base + i * 1_000_000
        os.utime(path, ns=(ns, ns))
