"""Seeded WAL inputs for the benchmark, and the oracle that checks them.

Every input comes from ``etl_bitcoin_spark.gen`` (``BinlogSpec`` ->
``generate_binlog`` -> ``write_segments``) with the workload seed, is
generated outside every timed region and is cached on disk per
(workload shape, seed).  The engine only ever sees the written segment
files.

``LwwFold`` is ``gen.binlog.oracle_replay``'s rule, folded one batch at a
time: unique lsns in lsn order, a ``D`` removes the key, an ``I``/``U``
replaces the stored row iff its ``(ts, lsn)`` is not smaller.  Per key
that reduces to: the last delete of the batch clears the key, and the
winner is the largest ``(ts, lsn)`` among the stored row (when no delete
came in the batch) and the batch's upserts after the last delete.
``check_against_oracle_replay`` holds the fold to ``oracle_replay``
itself on every run.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
from dataclasses import asdict, dataclass

import numpy as np
import pandas as pd


@dataclass(frozen=True)
class WalShape:
    """Shape of one workload's WAL: a preload prefix plus a backlog."""

    preload_segments: int
    backlog_segments: int
    seg_events: int
    n_convs: int
    max_turns: int
    hot_share: float

    @property
    def n_events(self) -> int:
        return (self.preload_segments + self.backlog_segments) * self.seg_events


@dataclass
class Wal:
    events: pd.DataFrame          # delivered events, ``seg`` column included
    preload: list[str]            # segment files replayed during set-up
    backlog: list[str]            # segment files the workload delivers


def build_wal(cache_root: str, name: str, shape: WalShape, seed: int) -> Wal:
    """Generate (or reuse) the seeded WAL for ``shape``."""
    from etl_bitcoin_spark.gen import BinlogSpec, generate_binlog, write_segments

    tag = hashlib.sha1(
        json.dumps([name, seed, asdict(shape)], sort_keys=True).encode()
    ).hexdigest()[:12]
    d = os.path.join(cache_root, f"{name}-s{seed}-{tag}")
    done = os.path.join(d, "_DONE")
    n_segs = shape.preload_segments + shape.backlog_segments
    if os.path.exists(done):
        events = pd.read_parquet(os.path.join(d, "events.parquet"))
    else:
        # build beside the cache entry, then rename it into place
        tmp = f"{d}.tmp-{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        spec = BinlogSpec(
            seed=seed,
            n_convs=shape.n_convs,
            max_turns=shape.max_turns,
            n_events=shape.n_events,
            n_segments=n_segs,
            hot_share=shape.hot_share,
        )
        events = generate_binlog(spec)
        write_segments(events, os.path.join(tmp, "wal"))
        events.to_parquet(os.path.join(tmp, "events.parquet"), index=False)
        with open(os.path.join(tmp, "_DONE"), "w") as f:
            f.write("ok\n")
        shutil.rmtree(d, ignore_errors=True)
        os.rename(tmp, d)
    segs = [
        os.path.join(d, "wal", f"seg-{s:05d}.parquet") for s in range(n_segs)
    ]
    return Wal(
        events=events,
        preload=segs[: shape.preload_segments],
        backlog=segs[shape.preload_segments:],
    )


# ---------------------------------------------------------------- oracle
COLS = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]


class LwwFold:
    """Incremental fold of ``oracle_replay``'s rule (module docstring)."""

    def __init__(self, n_lsns: int):
        self.seen = np.zeros(n_lsns, dtype=bool)
        # (conv_id, turn_idx) -> (ts_us, lsn, role, text, tool)
        self.state: dict[tuple[str, int], tuple] = {}

    def apply(self, events: pd.DataFrame) -> None:
        """Fold one delivered batch whose fresh lsns all exceed the lsns
        folded so far (a later segment, or several in lsn order)."""
        lsn = events["lsn"].to_numpy(np.int64)
        ev = events[~self.seen[lsn]].drop_duplicates(subset=["lsn"])
        self.seen[ev["lsn"].to_numpy(np.int64)] = True
        if ev.empty:
            return
        key = ["conv_id", "turn_idx"]
        ev = ev.assign(ts_us=_ts_us(ev["ts"]))
        is_d = (ev["op"] == "D").to_numpy()
        last_d = ev[is_d].groupby(key)["lsn"].max().rename("last_d")
        ups = ev[~is_d].join(last_d, on=key)
        ups = ups[ups["last_d"].isna() | (ups["lsn"] > ups["last_d"])]
        best = ups.sort_values(key + ["ts_us", "lsn"]).drop_duplicates(
            key, keep="last"
        )
        state = self.state
        for c, t in last_d.index:
            state.pop((c, int(t)), None)
        for r in best.itertuples(index=False):
            k = (r.conv_id, int(r.turn_idx))
            cur = state.get(k)
            if cur is None or (r.ts_us, r.lsn) >= cur[:2]:
                state[k] = (
                    int(r.ts_us), int(r.lsn), _none(r.role), _none(r.text),
                    _none(r.tool),
                )

    def conv_rows(self, conv_id: str, max_turns: int) -> list[tuple]:
        """Oracle rows of one conversation, as ``row_tuple`` gives them."""
        out = []
        for t in range(max_turns):
            v = self.state.get((conv_id, t))
            if v is not None:
                out.append((conv_id, t, v[2], v[3], v[4], v[0]))
        return out

    def frame(self) -> pd.DataFrame:
        rows = [
            (k[0], k[1], v[2], v[3], v[4], v[0]) for k, v in self.state.items()
        ]
        return pd.DataFrame(rows, columns=COLS)


def _ts_us(s: pd.Series) -> np.ndarray:
    return s.to_numpy().astype("datetime64[us]").astype(np.int64)


def _none(v):
    return None if v is None or (isinstance(v, float) and np.isnan(v)) else v


def row_tuple(r) -> tuple:
    """Canonical form of one lake row (a Spark ``Row``)."""
    ts = r["ts"]
    ts_us = None if ts is None else int(
        np.datetime64(ts.replace(tzinfo=None), "us").astype(np.int64)
    )
    return (
        r["conv_id"], int(r["turn_idx"]), _none(r["role"]),
        _none(r["text"]), _none(r["tool"]), ts_us,
    )


def frame_hash(df: pd.DataFrame) -> str:
    """Sorted-row hash of a (conv_id, turn_idx, role, text, tool, ts)
    frame; ``ts`` may be datetime-like or int microseconds."""
    df = df[COLS].copy()
    if not np.issubdtype(df["ts"].dtype, np.integer):
        df["ts"] = _ts_us(df["ts"])
    df["turn_idx"] = df["turn_idx"].astype(np.int64)
    for c in ("role", "text", "tool"):
        df[c] = df[c].astype(object).where(df[c].notna(), None)
    df = df.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    h = pd.util.hash_pandas_object(df, index=False).to_numpy()
    return hashlib.sha256(h.tobytes()).hexdigest()


def check_against_oracle_replay(events: pd.DataFrame, n_lsns: int) -> bool:
    """Hold ``LwwFold`` to ``oracle_replay`` on a delivered prefix, folded
    in segment order as the workloads fold it."""
    from etl_bitcoin_spark.gen import oracle_replay

    fold = LwwFold(n_lsns)
    for _, g in events.groupby("seg", sort=True):
        fold.apply(g)
    return frame_hash(fold.frame()) == frame_hash(oracle_replay(events))
