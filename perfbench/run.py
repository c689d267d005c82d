"""geetiles_spark benchmark: one seeded workload, one JSON result.

Run from the root of a checkout:

    python3 perfbench/run.py --workload geo_tiles --seed 1 --seconds 3 --trace 0

``--trace 0`` measures the end-to-end metrics with tracing off.  ``--trace 1``
first runs the same measurement untraced in a child process, then a traced
session (Spark event log on, jobs labelled per span), and reports the
per-layer metrics plus the tracing overhead between the two.  The last line
of standard output is the result object; the line before it is the full
labelled record.  See perfbench/README.md for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import signal
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

SETUP_REPS = 3
MIN_PASSES = 3  # a run reports medians over at least this many passes
TINY_SCALE = 0.1  # input size of --tiny, for the self-test
PROBE_PASSES = 2  # passes of a traced run's layer probe: a write and a merge
CORES = len(os.sched_getaffinity(0))  # local[nproc]

END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
    "rows_per_s": "1/s",
    "query_s.p50": "s",
    "query_s.p90": "s",
    "write_s": "s",
    "store_bytes_per_row": "B",
}

_QUANTITY_UNITS = {
    "self_s": "s", "python_s": "s", "jobs": "count", "tiles": "count", "rows": "count",
    "pairs": "count", "candidate_pairs": "count", "files": "count",
    "rewritten_partitions": "count", "linked_partitions": "count",
    "shuffle_bytes": "B", "spill_bytes": "B", "bytes": "B", "bytes_written": "B",
    "refine_keep_ratio": "ratio", "max_task_ratio": "ratio",
}


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric name -> unit, in a stable order."""
    from workloads import WORKLOADS

    units = {
        "geo.utm.lonlat_to_utm.s_per_1e6": "s",
        "geo.hashing.region_hash_batch.s_per_1e5": "s",
        "geo.geom.clip_areas_ring_boxes_exact.s_per_1e5": "s",
        "geo.s2.cell_id.s_per_1e6": "s",
        "geo.geom.points_in_polygon.s_per_1e6": "s",
    }
    for w in WORKLOADS.values():
        for name, quantities in w.LAYER_SPEC.items():
            for q in quantities:
                units[f"{name}.{q}"] = _QUANTITY_UNITS[q]
    units.update(
        {
            "spatial_store.read_aoi.files_read_frac": "ratio",
            "spatial_store.read_aoi.rows_scanned_per_row": "ratio",
            "cache.persist_scope.tracked": "count",
            "process.jvm.peak_pss_mb": "MB",
            "process.python_workers.peak_pss_mb": "MB",
            "trace.wall_s": "s",
            "trace.untraced_wall_s": "s",
            "trace.overhead_frac": "ratio",
        }
    )
    return units


def measure(args, work: str, traced: bool) -> dict:
    """One session: set up, warm up, then run passes for ``args.seconds``
    and at least ``MIN_PASSES`` passes."""
    import harness

    event_dir = os.path.join(work, "events") if traced else None
    harness.configure_env(work, CORES, event_dir)
    from workloads import WORKLOADS

    t0 = time.perf_counter()
    spark = harness.start_session()
    session_s = time.perf_counter() - t0
    from geetiles_spark import cache

    try:
        wl = WORKLOADS[args.workload](spark, args.seed, work, scale=args.scale)
        gen_s = []
        # the traced run reports no setup_s, so it sets up once
        for _ in range(1 if traced else SETUP_REPS):
            t0 = time.perf_counter()
            wl.setup()
            gen_s.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        wl.warm()
        warm_s = time.perf_counter() - t0
        setup_s = session_s + harness.median(gen_s) + warm_s

        tracer = harness.Tracer(spark, labels=traced)
        passes: list[dict] = []
        error = None
        cpu0 = harness.cpu_times()
        start = time.perf_counter()
        with harness.RssSampler() as rss:
            while len(passes) < MIN_PASSES or time.perf_counter() - start < args.seconds:
                tracer.pass_no = len(passes)
                try:
                    with cache.persist_scope() as tracked:
                        p = wl.run_pass(tracer, len(passes))
                        p["tracked"] = len(tracked)
                except Exception:  # report the failure in the result, not a crash
                    error = traceback.format_exc()
                    print(error, file=sys.stderr)
                    wl.attempted += 1
                    wl.failed += 1
                    break
                passes.append(p)
        measured_s = time.perf_counter() - start
        steal = harness.steal_pct(cpu0, harness.cpu_times())
        probe = None
        if traced and passes and wl.layer_probe:
            probe = WORKLOADS[wl.layer_probe](spark, args.seed, os.path.join(work, "probe"), scale=args.scale)
            try:
                probe.setup()
                for k in range(PROBE_PASSES):
                    tracer.pass_no = f"probe{k}"
                    probe.run_pass(tracer, k)
            except Exception:
                error = traceback.format_exc()
                print(error, file=sys.stderr)
                probe.attempted += 1
                probe.failed += 1
            wl.attempted += probe.attempted
            wl.failed += probe.failed
    finally:
        harness.stop_session(spark)

    rec = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": int(traced),
        "cores": CORES,
        "scale": args.scale,
        "steal_pct": round(steal, 3),
        "measured_s": round(measured_s, 3),
        "passes": len(passes),
        "pass_wall_s": [round(p["wall"], 4) for p in passes],
        "calls": [(s["pass"], s["name"], round(s["s"], 4)) for s in tracer.spans],
        # per-call latency by call: each read kind of spatial_store, each
        # operator of the batch workloads
        "call_p50_s": {
            name: round(harness.median(s["s"] for s in tracer.spans if s["name"] == name), 4)
            for name in dict.fromkeys(s["name"] for s in tracer.spans)
        },
        "setup": {"session_s": session_s, "gen_s": gen_s, "warm_s": warm_s},
        "peak_pss_mb": {k: round(v / 1024.0, 1) for k, v in rss.peak_kb.items()},
        "inputs": wl.labels,
        "attempted": wl.attempted,
        "failed": wl.failed,
        "fail_frac": wl.failed / max(wl.attempted, 1),
        "error": error,
    }
    if passes:
        e2e = wl.e2e(passes, setup_s)
        rec["metrics"] = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}
    if traced and passes:
        from kernels import kernel_metrics

        groups = harness.parse_event_log(event_dir)
        layers = {k: 0.0 for k in per_layer_units()}
        layers.update(kernel_metrics(args.seed, scale=args.scale))
        layers.update(wl.layer_metrics(tracer.spans, groups))
        if probe is not None:
            layers.update(probe.layer_metrics(tracer.spans, groups))
            rec["probe_inputs"] = probe.labels
        layers["cache.persist_scope.tracked"] = harness.median(p["tracked"] for p in passes)
        for k, kb in rss.peak_kb.items():
            layers[f"process.{k}.peak_pss_mb"] = kb / 1024.0
        layers["trace.wall_s"] = harness.median(p["wall"] for p in passes)
        rec["layers"] = layers
    return rec


def untraced_child(args) -> dict | None:
    """Run this benchmark untraced, in its own process."""
    cmd = [
        sys.executable, os.path.abspath(__file__), "--workload", args.workload,
        "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", "0",
    ] + (["--tiny"] if args.tiny else [])
    out = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, timeout=170)
    lines = out.stdout.strip().splitlines()
    if out.returncode != 0 or len(lines) < 2:
        return None
    return json.loads(lines[-2])


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true", help="tiny inputs (self-test)")
    args = ap.parse_args(argv)
    args.scale = TINY_SCALE if args.tiny else 1.0

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "geetiles_spark", "__init__.py")):
        print("perfbench: run from the root of a geetiles_spark checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    import harness

    # every exit path, a SIGTERM included, stops the processes this run started
    harness.become_subreaper()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    work = os.path.join(root, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    try:
        base = untraced_child(args) if args.trace else None
        rec = measure(args, work, traced=bool(args.trace))
    finally:
        harness.reap_descendants()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:  # another run is still using it
            pass
    rec["python"] = platform.python_version()

    if args.trace:
        layers = rec.get("layers", {})
        if base and "metrics" in base and layers:
            untraced = base["metrics"]["wall_s"]["value"]
            layers["trace.untraced_wall_s"] = untraced
            layers["trace.overhead_frac"] = layers["trace.wall_s"] / untraced - 1.0
        else:
            rec["failed"] += 1
            rec["attempted"] += 1
        metrics = {k: {"value": layers.get(k, 0.0), "unit": u} for k, u in per_layer_units().items()}
        rec["untraced"] = base
    else:
        metrics = rec.get("metrics", {})
    print(json.dumps(rec, default=str))
    print(
        json.dumps(
            {
                "correct": rec["failed"] == 0 and bool(metrics),
                "attempted": max(int(rec["attempted"]), 1),
                "failed": int(rec["failed"]),
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
