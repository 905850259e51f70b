"""Seeded input generator for the LEFT JOIN ON TIMEOUT benchmark.

Two keyed, timestamped streams share one schema, ``id BIGINT, k BIGINT,
ts TIMESTAMP(UTC)``. Lefts (lhs) carry ids ``0..n_left-1``; rights (rhs)
carry ids from ``n_left`` up. The same seed always gives byte-identical
files: all randomness comes from one ``numpy.random.Generator`` and the
parquet writer is called with fixed options.

Every file is written under a hidden name (``.name.tmp``, which Spark's
file source skips) and then renamed, so a stream never admits a
half-written file.

Key distribution: a share ``hot_share`` of events goes to ``hot_keys``
hot keys, the rest spreads uniformly over ``keys`` keys. Bounding the
hot share keeps joined output roughly proportional to input; pure Zipf
keys multiply it.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SCHEMA = pa.schema([("id", pa.int64()), ("k", pa.int64()),
                    ("ts", pa.timestamp("us", tz="UTC"))])
SPARK_SCHEMA = "id BIGINT, k BIGINT, ts TIMESTAMP"
# event time origin of generated backlogs: 2024-01-01T00:00:00Z
EPOCH_US = 1_704_067_200 * 1_000_000
FLUSH_KEY = -1
# far-future flush event: advances both watermarks past every real row
FLUSH_TS_US = 4_102_444_800 * 1_000_000  # 2100-01-01T00:00:00Z


@dataclass(frozen=True)
class Shape:
    """Traffic dimensions of one generated pair of streams."""

    n_left: int          # left events
    keys: int            # keyspace size
    hot_keys: int        # number of hot keys
    hot_share: float     # share of events on hot keys
    match_share: float   # share of lefts given one in-window right
    extra_rights: float  # unmatched rights, as a share of n_left
    ooo_share: float     # share of events delivered out of order
    ooo_max_s: float     # how far out of order (< watermark delay)
    window_s: float      # join window
    timeout_s: float     # timeout (window + watermark delay)
    span_s: float        # event-time span of the backlog
    files: int           # files per side


@dataclass
class Pair:
    """A generated pair as numpy columns (ts in epoch microseconds)."""

    l_id: np.ndarray
    l_k: np.ndarray
    l_ts: np.ndarray
    r_id: np.ndarray
    r_k: np.ndarray
    r_ts: np.ndarray

    @property
    def events(self) -> int:
        return len(self.l_id) + len(self.r_id)


def _keys(rng: np.random.Generator, n: int, shape: Shape) -> np.ndarray:
    hot = rng.random(n) < shape.hot_share
    k = rng.integers(shape.hot_keys, shape.keys, n)
    k[hot] = rng.integers(0, shape.hot_keys, int(hot.sum()))
    return k


def make_pair(seed: int, shape: Shape) -> Pair:
    """Lefts uniform over the span; about ``match_share`` of them get a
    right on the same key inside the window; extra rights use keys from
    a disjoint range so they never match."""
    rng = np.random.default_rng(seed)
    n = shape.n_left
    span_us = int(shape.span_s * 1e6)
    win_us = int(shape.window_s * 1e6)
    l_ts = EPOCH_US + rng.integers(0, span_us, n)
    l_k = _keys(rng, n, shape)
    matched = np.flatnonzero(rng.random(n) < shape.match_share)
    # strictly inside the window, so no pair sits on its boundary
    off = rng.integers(-(win_us * 9) // 10, (win_us * 9) // 10, len(matched))
    n_extra = int(n * shape.extra_rights)
    r_ts = np.concatenate([l_ts[matched] + off,
                           EPOCH_US + rng.integers(0, span_us, n_extra)])
    r_k = np.concatenate([l_k[matched],
                          shape.keys + rng.integers(0, shape.keys, n_extra)])
    r_id = n + np.arange(len(r_ts), dtype=np.int64)
    return Pair(np.arange(n, dtype=np.int64), l_k, l_ts, r_id, r_k, r_ts)


def _arrival_order(rng: np.random.Generator, ts: np.ndarray,
                   shape: Shape) -> np.ndarray:
    """Delivery order: by event time, except a ``ooo_share`` of events
    held back up to ``ooo_max_s`` (inside the watermark delay, so no
    event is dropped as late)."""
    delay = np.zeros(len(ts), dtype=np.int64)
    late = rng.random(len(ts)) < shape.ooo_share
    delay[late] = rng.integers(1, int(shape.ooo_max_s * 1e6), int(late.sum()))
    return np.argsort(ts + delay, kind="stable")


def write_table(path: str, ids, ks, tss, mtime: float | None = None) -> None:
    """Write one parquet file atomically (hidden temp name, then rename).

    Spark's file source admits files in modification-time order, so a
    backlog pins ``mtime`` to keep its files in delivery order."""
    table = pa.table({"id": pa.array(ids, pa.int64()),
                      "k": pa.array(ks, pa.int64()),
                      "ts": pa.array(tss, pa.int64()).cast(SCHEMA.field("ts").type)},
                     schema=SCHEMA)
    d, name = os.path.split(path)
    tmp = os.path.join(d, f".{name}.tmp")
    pq.write_table(table, tmp, compression="snappy", use_dictionary=False,
                   write_statistics=True)
    if mtime is not None:
        os.utime(tmp, (mtime, mtime))
    os.rename(tmp, path)


def write_pair(base: str, pair: Pair) -> None:
    """Write ``pair`` as one file per side (the batch workload's input)."""
    for side, cols in (("lhs", (pair.l_id, pair.l_k, pair.l_ts)),
                       ("rhs", (pair.r_id, pair.r_k, pair.r_ts))):
        os.makedirs(os.path.join(base, side), exist_ok=True)
        write_table(os.path.join(base, side, "part-00000.parquet"), *cols)


def write_backlog(base: str, seed: int, shape: Shape,
                  flush: bool = True) -> Pair:
    """Generate the pair for ``seed`` and write it as ``files`` files per
    side under ``base/lhs`` and ``base/rhs``, split by delivery order.
    The last file holds more than half of the events, so the median
    output row never sits on a micro-batch boundary. With ``flush`` the
    last file of each side ends with a far-future row that moves the
    watermark past every real row, so every pending timeout emits in
    the no-data micro-batch that follows."""
    pair = make_pair(seed, shape)
    rng = np.random.default_rng([seed, 1])
    # whole seconds apart: the file source's timestamps have 1 ms grain
    t0 = int(time.time()) - shape.files - 10
    for side, ids, ks, tss in (("lhs", pair.l_id, pair.l_k, pair.l_ts),
                               ("rhs", pair.r_id, pair.r_k, pair.r_ts)):
        d = os.path.join(base, side)
        os.makedirs(d, exist_ok=True)
        order = _arrival_order(rng, tss, shape)
        weights = np.array([1] * (shape.files - 1) + [shape.files])
        cuts = (np.cumsum(weights)[:-1] * len(order)) // weights.sum()
        parts = np.split(order, cuts)
        for i, part in enumerate(parts):
            cols = [ids[part], ks[part], tss[part]]
            if flush and i == len(parts) - 1:
                cols = [np.append(c, x) for c, x in
                        zip(cols, (-1, FLUSH_KEY, FLUSH_TS_US))]
            write_table(os.path.join(d, f"part-{i:05d}.parquet"), *cols,
                        mtime=t0 + i)
    return pair


def live_events(seed: int, rate_eps: float, seconds: float, keys: int,
                match_share: float, window_s: float):
    """Events of a live run, as ((id, k, t), (id, k, t)) for lefts and
    rights with ``t`` in microseconds from the run's start. Lefts arrive
    as a Poisson process; each is matched with probability
    ``match_share`` by one right created 0..0.9·``window_s`` later on the
    same key. Rights due after the run ends are never written."""
    rng = np.random.default_rng(seed)
    span_us = int(seconds * 1e6)
    n = int(rng.poisson(rate_eps * seconds / (1 + match_share)))
    t = np.sort(rng.integers(0, span_us, n))
    k = rng.integers(0, keys, n)
    m = np.flatnonzero(rng.random(n) < match_share)
    rt = t[m] + rng.integers(0, (int(window_s * 1e6) * 9) // 10, len(m))
    keep = rt < span_us
    r_order = np.argsort(rt[keep], kind="stable")
    rights = ((m[keep] + n)[r_order].astype(np.int64), k[m][keep][r_order],
              rt[keep][r_order])
    return (np.arange(n, dtype=np.int64), k, t), rights


def run_live(base: str, seed: int, rate_eps: float, tick_s: float,
             seconds: float, keys: int, match_share: float, window_s: float,
             start: float) -> dict:
    """Open loop: at ``start + tick_s·(i+1)`` write one file per side
    with the events created during tick ``i``, whatever the consumer is
    doing. Event time is creation time, i.e. when the event was due, so
    a stall in the generator shows up as latency and as lateness here.
    Returns the events written and how late each tick ran."""
    lefts, rights = live_events(seed, rate_eps, seconds, keys,
                                match_share, window_s)
    for side in ("lhs", "rhs"):
        os.makedirs(os.path.join(base, side), exist_ok=True)
    start_us = int(start * 1e6)
    tick_us = int(tick_s * 1e6)
    late, written = [], []
    for i in range(int(round(seconds / tick_s))):
        due = start + (i + 1) * tick_s
        wait = due - time.time()
        if wait > 0:
            time.sleep(wait)
        late.append(max(0.0, time.time() - due))
        for side, (ids, ks, ts) in (("lhs", lefts), ("rhs", rights)):
            lo, hi = np.searchsorted(ts, [i * tick_us, (i + 1) * tick_us])
            write_table(os.path.join(base, side, f"t{i:06d}.parquet"),
                        ids[lo:hi], ks[lo:hi], start_us + ts[lo:hi])
            written.append(time.time())
    return {"events": int(len(lefts[0]) + len(rights[0])),
            "late_s": late, "written": written}


def main(argv=None) -> int:
    """``python3 perfbench/gen.py live OUT SEED RATE TICK SECONDS KEYS
    MATCH WINDOW START`` runs the live generator as its own process and
    writes its summary to ``OUT/gen.json``."""
    import json
    import sys
    a = (argv or sys.argv)[1:]
    if len(a) != 10 or a[0] != "live":
        print(main.__doc__, file=sys.stderr)
        return 2
    out = a[1]
    summary = run_live(out, int(a[2]), float(a[3]), float(a[4]), float(a[5]),
                       int(a[6]), float(a[7]), float(a[8]), float(a[9]))
    with open(os.path.join(out, ".gen.json.tmp"), "w") as f:
        json.dump(summary, f)
    os.rename(os.path.join(out, ".gen.json.tmp"), os.path.join(out, "gen.json"))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
