"""The benchmark's workloads: ``tail`` and ``serve``.

Each workload runs in one process with one client in a closed loop: the
tailer starts the next batch only after the previous commit, and every
read waits for its reply.  ``setup`` builds the table (untimed work that
``setup_s`` reports), ``warm`` runs untimed ops until their times settle
(also counted in ``setup_s``), ``measure`` runs whole cycles until about
``seconds`` of op wall have passed, as far as the backlog allows, and
``verify`` checks the final state against the oracle, outside every timed
region.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
from dataclasses import dataclass, field

import numpy as np

from .inputs import LwwFold, Wal, WalShape, frame_hash, row_tuple
from .procmem import CLK_TCK, tree_cpu_ticks

N_BUCKETS = 64
SEG_EVENTS = 5000


@dataclass
class Samples:
    """What one measured window produced."""

    wall_s: float = 0.0
    cpu_s: float = 0.0            # process-tree CPU over the window
    events: int = 0
    ops: int = 0
    failed: int = 0
    cycles: int = 0
    delivered_rows: int = 0       # WAL rows handed to the engine
    lookup_files: list[int] = field(default_factory=list)
    pending_deltas: list[float] = field(default_factory=list)
    batch_ids: list[int] = field(default_factory=list)   # tail triggers
    kinds: dict[str, list[float]] = field(default_factory=dict)
    results: list[dict] = field(default_factory=list)

    def add(self, kind: str, secs: float) -> None:
        self.kinds.setdefault(kind, []).append(secs)

    def p50(self, kind: str) -> float | None:
        v = self.kinds.get(kind)
        return statistics.median(v) if v else None


def measure_cycles(run_cycle, max_cycles: int, seconds: float) -> Samples:
    """Run whole cycles, so every window holds the same mix of op kinds
    and delta depths: as many cycles as bring the op wall nearest to
    ``seconds``, at least one and at most ``max_cycles``.  Also records
    the process tree's CPU time over the window."""
    if max_cycles < 1:
        raise RuntimeError("backlog exhausted before the window")
    out = Samples()
    ticks = tree_cpu_ticks(os.getpid())
    run_cycle(out)
    while (
        out.cycles < max_cycles
        and out.wall_s + out.wall_s / (2 * out.cycles) < seconds
    ):
        run_cycle(out)
    out.cpu_s = (tree_cpu_ticks(os.getpid()) - ticks) / CLK_TCK
    return out


# ==================================================================== tail
class Tail:
    """Structured Streaming tail of 5k-event segments into a preloaded
    64-bucket table: ``BinlogTailer(merge_on_read=True, delta_plan=
    "auto", compact_max_deltas=8, max_files_per_trigger=1)``.  One op is
    one trigger.  Segments arrive in cycles of nine, one compaction cycle
    each; in every cycle two segments are delivered one position late
    (each one's mtime swapped with its successor's)."""

    name = "tail"
    shape = WalShape(
        preload_segments=20, backlog_segments=27, seg_events=SEG_EVENTS,
        n_convs=800, max_turns=50, hot_share=0.2,
    )
    cycle = 9              # compact_max_deltas=8 -> one compaction per 9
    late_at = (1, 5)       # block positions whose segments arrive late
    warm_triggers = 9      # through the first late and compacting triggers

    def __init__(self, spark, wal: Wal, work: str, seed: int, tracer) -> None:
        self.spark, self.wal, self.work, self.tracer = spark, wal, work, tracer
        # delivery order of the backlog: in every block of nine, each
        # segment at a ``late_at`` position arrives after its successor
        self.order = list(range(len(wal.backlog) // self.cycle * self.cycle))
        for blk in range(0, len(self.order), self.cycle):
            for j in self.late_at:
                i = blk + j
                self.order[i], self.order[i + 1] = self.order[i + 1], self.order[i]
        self.next_slot = 0
        self.mtime = 1_800_000_000
        self.op_batch: dict[int, int] = {}     # traced op id -> batch id

    # ------------------------------------------------------------ set-up
    def setup(self) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        from etl_bitcoin_spark.operators.merge import (
            BINLOG_DDL, KEY_COLS, TRANSCRIPTS_DDL, replay,
        )
        from etl_bitcoin_spark.streaming import BinlogTailer
        from etl_bitcoin_spark.tableformat import LakeTable

        spark = self.spark
        self.lake = LakeTable.create(
            spark, os.path.join(self.work, "lake"), TRANSCRIPTS_DDL,
            KEY_COLS, N_BUCKETS,
        )
        n_pre = len(self.wal.preload) * SEG_EVENTS
        replay(
            self.lake, spark.read.schema(BINLOG_DDL).parquet(*self.wal.preload),
            batch_lsn_width=(n_pre + 3) // 4, batch_id_prefix="preload",
        )
        self.wal_dir = os.path.join(self.work, "wal")
        os.makedirs(self.wal_dir)
        self.tailer = BinlogTailer(
            spark, self.wal_dir, self.lake, os.path.join(self.work, "ckpt"),
            max_files_per_trigger=1, merge_on_read=True, delta_plan="auto",
            compact_max_deltas=8,
        )
        # batch id of each foreachBatch call -> index in batch_results
        self.batch_index: dict[int, int] = {}
        orig, tailer, tracer = self.tailer._apply, self.tailer, self.tracer

        def traced_apply(batch_df, batch_id):
            self.batch_index[batch_id] = len(tailer.batch_results)
            with tracer.op_scope("trigger") as op:
                orig(batch_df, batch_id)
            if op is not None:
                self.op_batch[op] = batch_id

        self.tailer._apply = traced_apply
        self.progress: dict[int, dict] = {}
        bench = self

        class Progress(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                bench.progress[p.batchId] = dict(
                    p.durationMs, rows=int(p.numInputRows)
                )

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self.listener = Progress()
        spark.streams.addListener(self.listener)

    def close(self) -> None:
        self.spark.streams.removeListener(self.listener)

    # ------------------------------------------------------------ cycles
    def _drain(self, n: int, out: Samples | None) -> None:
        """Deliver the next ``n`` segments and drain them with one
        ``run_available()``: one trigger per segment."""
        if self.next_slot + n > len(self.order):
            raise RuntimeError("tail backlog exhausted")
        for s in self.order[self.next_slot:self.next_slot + n]:
            dst = os.path.join(self.wal_dir, os.path.basename(self.wal.backlog[s]))
            shutil.copyfile(self.wal.backlog[s], dst)
            self.mtime += 1
            os.utime(dst, (self.mtime, self.mtime))
        first = self.next_slot
        self.next_slot += n
        t0 = time.perf_counter()
        self.tailer.run_available()
        wall = time.perf_counter() - t0
        res = self.tailer.batch_results[first:]
        if len(res) != n:
            raise RuntimeError(f"drain ran {len(res)} triggers, not {n}")
        ids = sorted(b for b, i in self.batch_index.items() if i >= first)
        deadline = time.monotonic() + 30
        while any(b not in self.progress for b in ids):
            if time.monotonic() > deadline:
                raise RuntimeError("streaming progress events missing")
            time.sleep(0.01)
        if out is None:
            return
        if self.tracer.on:
            out.pending_deltas.append(pending_deltas(self.lake))
        out.cycles += 1
        out.wall_s += wall
        out.ops += n
        out.results.extend(res)
        for b in ids:
            i = self.batch_index[b]
            r = self.tailer.batch_results[i]
            if r.get("compacted_buckets"):
                kind = "compact"
            elif i % self.cycle - 1 in self.late_at:
                kind = "late"
            else:
                kind = "batch"
            p = self.progress[b]
            out.add(kind, p["triggerExecution"] / 1e3)
            out.events += int(r.get("events", 0))
            out.delivered_rows += p["rows"]
            out.batch_ids.append(b)

    def warm(self) -> int:
        self._drain(self.warm_triggers, None)
        return self.warm_triggers

    def measure(self, seconds: float, windows: int = 1) -> Samples:
        """One measured window; ``windows`` is the number of windows,
        this one included, that the rest of the backlog must serve, so
        a fast host cannot drain it in the first."""
        left = (len(self.order) - self.next_slot) // self.cycle
        return measure_cycles(
            lambda out: self._drain(self.cycle, out), left // windows, seconds,
        )

    # ------------------------------------------------------------ verify
    def verify(self) -> list[str]:
        fold = LwwFold(self.shape.n_events)
        ev = self.wal.events
        n_pre = len(self.wal.preload)
        segs = set(range(n_pre)) | {
            n_pre + s for s in self.order[:self.next_slot]
        }
        fold.apply(ev[ev["seg"].isin(segs)])
        return verify_lake(self.lake, fold)


# =================================================================== serve
class Serve:
    """One client alternating writes and reads on a preloaded table under
    a hot-key update storm.  One op is a cycle: ``PollTailer.poll_once()``
    of one 5k-event segment, eight ``lake.read(keys=[c])`` lookups of
    conversations that segment wrote, and one full resolved read into the
    noop sink.  The storm keeps every batch's events-per-key multiplicity
    above ``RAW_MULT_MAX``, so the summary delta plan runs.  The poller
    keeps the default ``compact_max_deltas=8`` and a run polls at most
    eight segments, so no run compacts: the reads resolve one to eight
    pending summary deltas per bucket, the same depths on every run that
    measures the same number of ops."""

    name = "serve"
    shape = WalShape(
        preload_segments=20, backlog_segments=8, seg_events=SEG_EVENTS,
        n_convs=800, max_turns=50, hot_share=0.6,
    )
    cycle = 2              # ops per measured cycle
    lookups = 8
    warm_ops = 2

    def __init__(self, spark, wal: Wal, work: str, seed: int, tracer) -> None:
        self.spark, self.wal, self.work, self.tracer = spark, wal, work, tracer
        self.rng = np.random.default_rng(seed + 1)
        self.next_seg = 0

    def setup(self) -> None:
        from etl_bitcoin_spark.operators.merge import (
            BINLOG_DDL, KEY_COLS, TRANSCRIPTS_DDL, replay,
        )
        from etl_bitcoin_spark.streaming import PollTailer
        from etl_bitcoin_spark.tableformat import LakeTable

        spark = self.spark
        self.lake = LakeTable.create(
            spark, os.path.join(self.work, "lake"), TRANSCRIPTS_DDL,
            KEY_COLS, N_BUCKETS,
        )
        n_pre = len(self.wal.preload) * SEG_EVENTS
        replay(
            self.lake, spark.read.schema(BINLOG_DDL).parquet(*self.wal.preload),
            batch_lsn_width=(n_pre + 3) // 4, batch_id_prefix="preload",
        )
        self.fold = LwwFold(self.shape.n_events)
        ev = self.wal.events
        self.fold.apply(ev[ev["seg"] < len(self.wal.preload)])
        self.wal_dir = os.path.join(self.work, "wal")
        os.makedirs(self.wal_dir)
        self.poller = PollTailer(
            spark, self.wal_dir, self.lake, os.path.join(self.work, "ckpt"),
            max_files_per_trigger=1, merge_on_read=True, delta_plan="auto",
            compact_max_deltas=8,
        )

    def close(self) -> None:
        pass

    def _op(self, out: Samples | None) -> list[tuple[str, float]]:
        """One serve cycle; checks every lookup after the cycle ends."""
        if self.next_seg >= len(self.wal.backlog):
            raise RuntimeError("serve backlog exhausted")
        src = self.wal.backlog[self.next_seg]
        seg_no = len(self.wal.preload) + self.next_seg
        self.next_seg += 1
        shutil.copyfile(src, os.path.join(self.wal_dir, os.path.basename(src)))
        ev = self.wal.events
        seg_ev = ev[ev["seg"] == seg_no]
        convs = sorted(set(seg_ev["conv_id"]))
        picks = [convs[i] for i in self.rng.choice(len(convs), self.lookups, replace=False)]
        lake, tr = self.lake, self.tracer
        times: list[tuple[str, float]] = []
        got = []
        with tr.op_scope("serve"):
            t0 = time.perf_counter()
            res = self.poller.poll_once()
            t1 = time.perf_counter()
            times.append(("compact" if res.get("compacted_buckets") else "batch", t1 - t0))
            for c in picks:
                t0 = time.perf_counter()
                with tr.span("serve.lookup"):
                    rows = lake.read(keys=[c], user_cols=True).collect()
                t1 = time.perf_counter()
                times.append(("lookup", t1 - t0))
                got.append(rows)
            t0 = time.perf_counter()
            with tr.span("serve.scan"):
                lake.read(user_cols=True).write.format("noop").mode("overwrite").save()
            t1 = time.perf_counter()
            times.append(("scan", t1 - t0))
        if tr.on:
            # read-side layout the lookups saw, sampled outside the op
            out.pending_deltas.append(pending_deltas(lake))
            out.lookup_files.extend(
                len(lake.read(keys=[c], user_cols=True).inputFiles())
                for c in picks
            )
        self.fold.apply(seg_ev)
        bad = 0
        for c, rows in zip(picks, got):
            want = self.fold.conv_rows(c, self.shape.max_turns)
            if sorted((row_tuple(r) for r in rows), key=lambda t: t[:2]) != want:
                bad += 1
        if out is not None:
            out.ops += 1
            out.failed += int(bad > 0)
            out.wall_s += sum(s for _, s in times)
            out.events += int(res.get("events", 0))
            out.delivered_rows += len(seg_ev)
            out.results.append(res)
            for kind, secs in times:
                out.add(kind, secs)
        elif bad:
            raise RuntimeError(f"{bad} warm-up lookups disagree with the oracle")
        return times

    def warm(self) -> int:
        for _ in range(self.warm_ops):
            self._op(None)
        return self.warm_ops

    def _run_cycle(self, out: Samples | None) -> None:
        for _ in range(self.cycle):
            self._op(out)
        if out is not None:
            out.cycles += 1

    def measure(self, seconds: float, windows: int = 1) -> Samples:
        """One measured window of exactly one cycle, so every window
        reads the same delta depths whatever the host's speed;
        ``windows`` as in ``Tail.measure``."""
        left = (len(self.wal.backlog) - self.next_seg) // self.cycle
        return measure_cycles(self._run_cycle, min(1, left // windows), seconds)

    def verify(self) -> list[str]:
        return verify_lake(self.lake, self.fold)


def pending_deltas(lake) -> float:
    """Mean number of pending delta files per bucket."""
    ent = lake.bucket_entries()
    return sum(len(e["deltas"]) for e in ent.values()) / max(len(ent), 1)


def verify_lake(lake, fold: LwwFold) -> list[str]:
    """Final-state checks: sorted-row hash against the oracle fold, and a
    clean ``lake.verify()``."""
    errors = []
    got = lake.read(user_cols=True).select(
        "conv_id", "turn_idx", "role", "text", "tool", "ts"
    ).toPandas()
    if frame_hash(got) != frame_hash(fold.frame()):
        errors.append(
            f"final state differs from the oracle ({len(got)} rows vs "
            f"{len(fold.state)})"
        )
    rep = lake.verify()
    if not rep["ok"]:
        errors.append(f"lake.verify: {rep['errors'][:3]}")
    return errors


WORKLOADS = {w.name: w for w in (Tail, Serve)}
