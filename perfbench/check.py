"""Output checks.

Backlog and batch workloads compare three numbers against DuckDB's range
left join over the same generated files: matched rows, timeout rows, and
an order-insensitive hash of the (left id, right id) pairs. The hash is
a sum of a per-pair mix computed with exact integer arithmetic, so Spark
and DuckDB evaluate it identically and row order does not matter.

The live workload is checked row by row from what the sink collected.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa

# pair mix: x = (l_id·7919 + (r_id+1)·104729) mod P1 (r_id+1 = 0 for a
# timeout row), then x² mod P2. Every intermediate fits in BIGINT.
PAIR_MIX_SQL = ("(((id * 7919 + coalesce(r_id + 1, 0) * 104729) % 2147483647)"
                " * ((id * 7919 + coalesce(r_id + 1, 0) * 104729) % 2147483647))"
                " % 2147483629")


@dataclass(frozen=True)
class Expected:
    matched: int
    timeouts: int
    pair_hash: int

    def diff(self, matched: int, timeouts: int, pair_hash: int) -> list[str]:
        errs = []
        for name, want, got in (("matched", self.matched, matched),
                                ("timeouts", self.timeouts, timeouts),
                                ("pair_hash", self.pair_hash, pair_hash)):
            if want != got:
                errs.append(f"{name}: expected {want}, got {got}")
        return errs


def oracle(base: str, window_s: float) -> Expected:
    """DuckDB range left join over ``base/lhs`` and ``base/rhs``
    (flush rows, keyed below 0, excluded)."""
    lhs = os.path.join(base, "lhs", "*.parquet")
    rhs = os.path.join(base, "rhs", "*.parquet")
    # imported here so the measuring process loads DuckDB only after it
    # has read its peak memory (this runs in the input-making child)
    import duckdb
    con = duckdb.connect()
    try:
        con.execute("SET threads TO 2")
        row = con.execute(f"""
            WITH l AS (SELECT id, k, ts FROM read_parquet('{lhs}') WHERE k >= 0),
                 r AS (SELECT id, k, ts FROM read_parquet('{rhs}') WHERE k >= 0),
                 j AS (SELECT l.id AS id, r.id AS r_id FROM l LEFT JOIN r
                       ON l.k = r.k
                      AND r.ts BETWEEN l.ts - INTERVAL {window_s} SECOND
                                   AND l.ts + INTERVAL {window_s} SECOND)
            SELECT count(r_id), count(*) - count(r_id),
                   coalesce(sum({PAIR_MIX_SQL}), 0)::BIGINT
            FROM j""").fetchone()
    finally:
        con.close()
    return Expected(int(row[0]), int(row[1]), int(row[2]))


def pair_hash(l_id: np.ndarray, r_id: np.ndarray | None) -> int:
    """The same mix in numpy (``r_id`` None or -1 marks a timeout row)."""
    r1 = np.zeros(len(l_id), np.int64) if r_id is None else np.where(
        r_id < 0, 0, r_id + 1)
    x = (l_id.astype(np.int64) * 7919 + r1 * 104729) % 2147483647
    return int(((x * x) % 2147483629).sum())


def timer_core_outcome(pair, window_s: float, timeout_s: float):
    """Replay ``pair`` (a ``gen.Pair``) key by key through the program's
    pure-Python timer core, in the order the exact-timer adapter uses
    (event time, lefts before rights), then fire every timer. Returns
    (left ids, right ids or -1) of the emitted rows — no Spark involved."""
    from left_join_on_timeout_spark.streaming import timer_core
    window_us = int(window_s * 1e6)
    rows: dict[int, list] = {}
    for ids, ks, tss, side in ((pair.l_id, pair.l_k, pair.l_ts, "L"),
                               (pair.r_id, pair.r_k, pair.r_ts, "R")):
        for i, k, t in zip(ids.tolist(), ks.tolist(), tss.tolist()):
            rows.setdefault(k, []).append((t, i, side))
    l_out, r_out = [], []
    for key_rows in rows.values():
        key_rows.sort(key=lambda r: (r[0], r[2]))
        out, lefts, _ = timer_core.replay([], [], key_rows, window_us,
                                          int(timeout_s * 1000), False,
                                          1000, "error")
        fired, _ = timer_core.fire_due(lefts, 1 << 62, window_us)
        l_out += [o[1] for o in out] + [f[1] for f in fired]
        r_out += [o[2] for o in out] + [-1] * len(fired)
    return np.array(l_out, np.int64), np.array(r_out, np.int64)


def check_live(rows: dict[str, np.ndarray], lefts: tuple, rights: tuple,
               window_us: int, watermark_us: int) -> tuple[list[str], int]:
    """Check the live workload's sink rows.

    ``rows`` holds columns id, k, ts, r_id, r_k, r_ts (ts in epoch µs,
    r_id = -1 on timeout rows). ``lefts``/``rights`` are the (id, k, ts)
    arrays the generator wrote. A left is due when the watermark of the
    last micro-batch passed ``ts + window`` by more than its 1 ms grain;
    every due left must appear
    either as its exact matched pairs or as one timeout row, and no
    undue left may have timed out. Returns (errors, due lefts checked).
    """
    errs: list[str] = []
    l_id, l_k, l_ts = lefts
    r_id, r_k, r_ts = rights
    matched = rows["r_id"] >= 0
    m_id, m_rid = rows["id"][matched], rows["r_id"][matched]
    if np.any(rows["k"][matched] != rows["r_k"][matched]):
        errs.append("matched pair with unequal keys")
    if np.any(np.abs(rows["ts"][matched] - rows["r_ts"][matched]) > window_us):
        errs.append("matched pair outside the window")
    t_id = rows["id"][~matched]
    uniq, counts = np.unique(t_id, return_counts=True)
    if np.any(counts > 1):
        errs.append(f"{int((counts > 1).sum())} lefts timed out twice")
    both = np.intersect1d(uniq, m_id)
    if both.size:
        errs.append(f"{both.size} lefts both matched and timed out")
    pairs = np.stack([m_id, m_rid], axis=1)
    if len(np.unique(pairs, axis=0)) != len(pairs):
        errs.append("a matched pair was emitted twice")

    # exact expectation for due lefts: in-memory equi-join on key with
    # the range condition (inputs are small)
    # the watermark has millisecond grain: lefts within 1 ms of it may
    # or may not have been evicted yet
    due = l_ts + window_us < watermark_us - 1000
    may_be_due = l_ts + window_us < watermark_us + 1000
    import duckdb  # after the peak memory was read (see oracle)
    con = duckdb.connect()
    try:
        con.register("l", pa.table({"id": l_id[due], "k": l_k[due],
                                    "ts": l_ts[due]}))
        con.register("r", pa.table({"id": r_id, "k": r_k, "ts": r_ts}))
        exp = con.execute("""
            SELECT l.id, coalesce(r.id, -1) FROM l LEFT JOIN r
            ON l.k = r.k AND r.ts BETWEEN l.ts - ? AND l.ts + ?""",
                          [window_us, window_us]).fetchnumpy()
    finally:
        con.close()
    e_id, e_rid = (np.asarray(v, np.int64) for v in exp.values())
    due_ids = l_id[due]
    got = np.isin(rows["id"], due_ids)
    got_pairs = sorted(zip(rows["id"][got].tolist(), rows["r_id"][got].tolist()))
    want_pairs = sorted(zip(e_id.tolist(), e_rid.tolist()))
    if got_pairs != want_pairs:
        missing = sorted(set(want_pairs) - set(got_pairs))[:3]
        extra = sorted(set(got_pairs) - set(want_pairs))[:3]
        errs.append(f"due lefts: {len(got_pairs)} rows differ from the "
                    f"{len(want_pairs)} expected (missing {missing}, "
                    f"unexpected {extra}, (left id, right id or -1))")
    early = np.setdiff1d(uniq, l_id[may_be_due])
    if early.size:
        errs.append(f"{early.size} lefts timed out before their deadline")
    return errs, int(due.sum())
