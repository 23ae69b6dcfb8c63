"""CDC engine benchmark: one workload per process, metrics as one JSON line.

Usage, from the repository root:

    python3 perfbench/run.py --workload tail --seed 1 --seconds 12 --trace 0

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` measures an
untraced window, then a traced one, and prints the per-layer metrics, the
tracing overhead and span coverage.  The last line of standard output is
``{"correct", "attempted", "failed", "metrics"}``.  The exit code is 0
only when every op and the final state agree with the oracle.
Everything the run writes lives under ``.perfbench_work/`` in the
checkout.  See ``perfbench/DESIGN.md``.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
DEFAULT_SEED = 1
CACHE_KEEP = 32           # cached seeded WALs kept per checkout (~20 MB each)

# Pinned deployment settings (DESIGN.md): identical on both sides of
# every comparison.
CORES = 4
DRIVER_MEM = "4g"


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["tail", "serve"])
    ap.add_argument("--seed", type=int, default=DEFAULT_SEED)
    ap.add_argument("--seconds", type=float, default=8.0)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return ap.parse_args(argv)


def pin_environment(run_dir: str) -> None:
    """Keep every file the run and Spark write inside ``run_dir``."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark_local")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["TZ"] = "UTC"
    time.tzset()
    import tempfile

    tempfile.tempdir = tmp


def prune_cache(cache: str) -> None:
    try:
        entries = sorted(
            (os.path.getmtime(os.path.join(cache, d)), d) for d in os.listdir(cache)
        )
    except FileNotFoundError:
        return
    for _, d in entries[:-CACHE_KEEP]:
        shutil.rmtree(os.path.join(cache, d), ignore_errors=True)


# ``probe`` is the op each workload exists to probe: the late-delivered
# trigger on tail, the point lookup on serve (DESIGN.md).
PROBE = {"tail": "late", "serve": "lookup"}


def e2e_metrics(s, workload: str, setup_s: float, peak_mb: float) -> dict:
    """End-to-end metrics of window ``s``: {name: (value, unit)}."""
    return {
        "setup_s": (setup_s, "s"),
        "events_per_s": (s.events / s.wall_s, "ev/s"),
        "batch_p50_s": (s.p50("batch"), "s"),
        "probe_p50_s": (s.p50(PROBE[workload]), "s"),
        "peak_pss_mb": (peak_mb, "MB"),
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    # The engine must import before anything runs: a tree without it
    # exits non-zero here, printing no result.
    sys.path.insert(0, ROOT)
    try:
        import etl_bitcoin_spark
    except ImportError as e:
        print(f"perfbench: engine not importable: {e}", file=sys.stderr)
        return 2
    if not os.path.abspath(etl_bitcoin_spark.__file__).startswith(ROOT + os.sep):
        print(f"perfbench: engine imported from outside {ROOT}", file=sys.stderr)
        return 2
    from perfbench.procmem import PssSampler

    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    pin_environment(run_dir)
    sampler = PssSampler(os.getpid()).start()
    try:
        r = run(args, run_dir)
    except Exception:
        # an op that raised: the run has no trustworthy numbers
        traceback.print_exc()
        r = None
    finally:
        sampler.stop()
        shutil.rmtree(run_dir, ignore_errors=True)
    if r is None:
        print(json.dumps(
            {"correct": False, "attempted": 1, "failed": 1, "metrics": {}}
        ))
        return 1
    return report(args, r, sampler.peak_kb / 1024.0)


def run(args, run_dir: str) -> dict:
    """Inputs, set-up, the measured window(s) and the final checks."""
    from etl_bitcoin_spark.session import get_spark
    from perfbench import trace
    from perfbench.inputs import build_wal, check_against_oracle_replay
    from perfbench.procmem import python_worker_cpu_ticks
    from perfbench.workloads import WORKLOADS

    r: dict = {}
    tracer = r["tracer"] = trace.Tracer()
    if args.trace:
        trace.install(tracer)
    spark = None
    try:
        # ---- inputs and oracle self-check: excluded from setup_s
        t_in = time.perf_counter()
        cache = os.path.join(WORK, "cache")
        wl = WORKLOADS[args.workload]
        wal = build_wal(cache, wl.name, wl.shape, args.seed)
        prune_cache(cache)
        head = wal.events[wal.events["seg"] < 4]
        oracle_ok = check_against_oracle_replay(head, wl.shape.n_events)
        r["input_s"] = input_s = time.perf_counter() - t_in

        # ---- set-up: session (engine warmup on), preload, warm-up ops
        tracer.on = bool(args.trace)
        t0 = time.perf_counter()
        with tracer.span("session.get_spark"):
            spark = get_spark(
                "perfbench", cores=CORES,
                extra_conf={
                    "spark.ui.showConsoleProgress": "false",
                    # the JVM's temp files (native libs, artifacts) stay
                    # in the run dir; no hsperfdata file in /tmp
                    "spark.driver.extraJavaOptions":
                        f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData",
                },
            )
        t1 = time.perf_counter()
        bench = wl(spark, wal, run_dir, args.seed, tracer)
        bench.setup()
        t2 = time.perf_counter()
        tracer.on = False
        r["warm_ops"] = bench.warm()
        t3 = time.perf_counter()
        r["phases"] = {
            "start": t_in - T_START, "session": t1 - t0,
            "preload": t2 - t1, "warm": t3 - t2,
        }
        r["setup_s"] = t3 - T_START - input_s

        # ---- measured windows
        r["untraced"] = bench.measure(args.seconds, windows=1 + args.trace)
        r["traced"] = None
        if args.trace:
            counters = trace.JvmCounters(spark)
            c0, py0 = counters.snapshot(), python_worker_cpu_ticks(os.getpid())
            tracer.on = True
            r["traced"] = bench.measure(args.seconds)
            tracer.on = False
            c1, py1 = counters.snapshot(), python_worker_cpu_ticks(os.getpid())
            r["layer"], r["coverage"] = per_layer(
                bench, tracer, r["traced"], c0, c1, py1 - py0
            )
        r["errors"] = bench.verify()
        if not oracle_ok:
            r["errors"].insert(0, "LwwFold disagrees with gen.binlog.oracle_replay")
        bench.close()
    finally:
        if spark is not None:
            stop_spark(spark)
        tracer.restore()
    return r


def stop_spark(spark) -> None:
    """Stop the session, then the driver JVM, and wait for it to exit."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def report(args, r: dict, peak_mb: float) -> int:
    """Print the readable lines, then the result line; returns the exit
    code."""
    untraced, traced = r["untraced"], r["traced"]
    windows = [untraced] + ([traced] if traced else [])
    attempted = sum(w.ops for w in windows)
    errors = r["errors"]
    # a wrong final state is charged as one failed op
    failed = sum(w.failed for w in windows) + (1 if errors else 0)
    correct = failed == 0

    e2e = e2e_metrics(untraced, args.workload, r["setup_s"], peak_mb)
    print(f"workload={args.workload} seed={args.seed} seconds={args.seconds} "
          f"trace={args.trace} warm_ops={r['warm_ops']} "
          f"input_s={r['input_s']:.2f}")
    print("  setup phases: " + ", ".join(
        f"{k} {v:.2f} s" for k, v in r["phases"].items()))
    print(f"  measured: {untraced.cycles} cycles, {untraced.ops} ops, "
          f"{untraced.wall_s:.2f} s op wall")
    for k, v in sorted(untraced.kinds.items()):
        print(f"  samples {k}: n={len(v)} " + " ".join(f"{x:.3f}" for x in v))
    for name, (v, unit) in e2e.items():
        print(f"  {name} = {v} {unit}")
    for kind in ("compact", "scan"):
        if untraced.p50(kind) is not None:
            print(f"  {kind}_p50_s = {untraced.p50(kind)} s (not gated)")
    print(f"  cpu_s_per_op = {untraced.cpu_s / untraced.ops} s (not gated)")
    print(f"  op_fail_ratio = {failed / attempted} ratio ({failed}/{attempted})")
    for e in errors:
        print(f"  ERROR {e}")
    metrics = e2e
    if args.trace:
        te2e = e2e_metrics(traced, args.workload, r["setup_s"], peak_mb)
        print("tracing overhead (traced - untraced window, same process):")
        for name, (v, unit) in te2e.items():
            u = e2e[name][0]
            if name not in ("setup_s", "peak_pss_mb"):
                print(f"  {name}: {v - u:+.4f} {unit} ({(v - u) / u:+.1%})")
        metrics = r["layer"]
        for line in r["coverage"]:
            print(line)
        r["tracer"].dump(os.path.join(
            WORK, "results", f"spans-{args.workload}-s{args.seed}.json"
        ))
    print(json.dumps({
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0 if correct else 1


def per_layer(bench, tracer, s, c0, c1, pycpu) -> tuple[dict, list[str]]:
    """Per-layer metrics of the traced window ``s``, and the coverage
    report lines."""
    from perfbench.trace import union_length

    ops = s.ops
    spans = tracer.spans
    kids = tracer.children()
    op_idx = [i for i, sp in enumerate(spans) if sp[0].startswith("op.") and sp[2]]
    # the traced window's ops; every span of the window carries one
    win = {spans[i][4] for i in op_idx}

    report = []
    # ---- coverage of each op's wall by its top-level spans
    cov, gaps, dispatch_s = [], {}, []

    def gap(name, secs):
        gaps[name] = gaps.get(name, 0.0) + secs

    for i in op_idx:
        sp = spans[i]
        iv = [(spans[k][1], spans[k][2]) for k in kids.get(i, [])]
        body = sp[2] - sp[1]
        inner = union_length(iv, sp[1], sp[2])
        if bench.name == "tail":
            # The op is the trigger (Spark's triggerExecution).  Its
            # top-level parts: the trigger machinery outside addBatch,
            # the foreachBatch dispatch (addBatch minus the Python
            # callback's body: building the batch Dataset and the py4j
            # callback), both of the streaming.tailer layer, and the
            # layer spans inside the callback.
            d = bench.progress[bench.op_batch[sp[4]]]
            wall = d["triggerExecution"] / 1e3
            dispatch = max(d["addBatch"] / 1e3 - body, 0.0)
            dispatch_s.append(dispatch)
            gap("foreachBatch callback body outside layer spans", body - inner)
            cov.append((wall - d["addBatch"] / 1e3 + dispatch + inner) / wall)
        else:
            gap("serve cycle outside poll/lookup/scan spans", body - inner)
            cov.append(inner / body)
    report.append(
        f"span coverage of op wall ({bench.name}, {len(cov)} ops): "
        f"mean {statistics.mean(cov):.4f}, min {min(cov):.4f}"
    )
    for name, g in sorted(gaps.items(), key=lambda kv: -kv[1]):
        report.append(f"  uncovered: {name}: {g / len(cov) * 1e3:.2f} ms/op")
    if dispatch_s:
        report.append(
            "  covered as streaming.tailer: foreachBatch dispatch (addBatch"
            f" - callback body): {statistics.mean(dispatch_s) * 1e3:.2f} ms/op"
        )

    # ---- streaming overhead: SS machinery (tail) / poll self time (serve)
    if bench.name == "tail":
        stream_over = sum(
            bench.progress[b]["triggerExecution"] - bench.progress[b]["addBatch"]
            for b in s.batch_ids
        ) / 1e3 / ops
    else:
        stream_over = tracer.self_time("streaming.poll_once", win) / ops

    res = s.results
    applied = [r for r in res if r.get("events")]
    raw_share = sum(1 for r in applied if r.get("delta_plan") == "raw") / max(len(applied), 1)
    mult = [float(r["multiplicity"]) for r in applied if "multiplicity" in r]

    # ---- preload replay (set-up): raw windows vs the final fold
    rep = [sp for sp in spans if sp[0] == "merge.replay" and sp[2]]
    raw_w = fold = 0.0
    if rep:
        lo, hi = rep[0][1], rep[0][2]
        ab = sorted(
            (sp for sp in spans if sp[0] == "merge.apply_batch" and sp[2]
             and lo <= sp[1] and sp[2] <= hi),
            key=lambda sp: sp[2],
        )
        if ab:
            fold = ab[-1][2] - ab[-1][1]
            raw_w = union_length([(a[1], a[2]) for a in ab[:-1]], lo, hi)
    get_spark = [sp for sp in spans if sp[0] == "session.get_spark" and sp[2]]
    lake_bytes = sum(
        os.path.getsize(os.path.join(dp, f))
        for dp, _, fs in os.walk(bench.lake.root) for f in fs
    )
    applied_events = sum(
        hi - lo + 1 for lo, hi in bench.lake.lineage()["applied_ranges"]
    )
    m = {
        "session.get_spark_s": (get_spark[0][2] - get_spark[0][1], "s"),
        "jvm.codegen_compiles_per_op": ((c1["codegen_compiles"] - c0["codegen_compiles"]) / ops, "count/op"),
        "jvm.codegen_ms_per_op": ((c1["codegen_ms"] - c0["codegen_ms"]) / ops, "ms/op"),
        "jvm.gc_ms_per_op": ((c1["gc_ms"] - c0["gc_ms"]) / ops, "ms/op"),
        "spark.jobs_per_op": (c1["jobs_new"] / ops, "count/op"),
        "spark.tasks_per_op": (c1["tasks_new"] / ops, "count/op"),
        "streaming.overhead_s": (stream_over, "s/op"),
        "state.guard_build_s": (tracer.self_time("state.guard_build", win) / ops, "s/op"),
        "state.bloom_io_s": (tracer.self_time("state.bloom_io", win) / ops, "s/op"),
        "state.dup_rejected": (float(s.delivered_rows - s.events), "count"),
        "pyworker.cpu_ticks_per_op": (pycpu / ops, "ticks/op"),
        "merge.apply_batch_s": (tracer.outer_time("merge.apply_batch", win) / ops, "s/op"),
        "merge.raw_plan_share": (raw_share, "ratio"),
        "merge.multiplicity_mean": (statistics.mean(mult) if mult else 0.0, "ev/key"),
        "merge.raw_window_s": (raw_w, "s"),
        "merge.final_fold_s": (fold, "s"),
        "lake.commit_s": (tracer.outer_time("lake.commit", win) / ops, "s/op"),
        "lake.commits_per_op": (tracer.count("lake.commit", win) / ops, "count/op"),
        "lake.commit_conflicts": (float(tracer.errors.get("lake.commit", 0)), "count"),
        "lake.metadata_s": (tracer.self_time("lake.metadata", win) / ops, "s/op"),
        "lake.compact_s": (tracer.outer_time("lake.compact", win) / ops, "s/op"),
        "lake.read_build_s": (tracer.self_time("lake.read_build", win) / ops, "s/op"),
        "lake.lookup_files": (statistics.mean(s.lookup_files) if s.lookup_files else 0.0, "count"),
        "lake.pending_deltas_mean": (statistics.mean(s.pending_deltas) if s.pending_deltas else 0.0, "count"),
        "lake.bytes_per_event": (lake_bytes / max(applied_events, 1), "B/ev"),
        "trace.span_coverage": (statistics.mean(cov), "ratio"),
    }
    return m, report


if __name__ == "__main__":
    sys.exit(main())
