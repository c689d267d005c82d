"""Self-test of the benchmark at tiny input sizes.

Runs every workload traced (which also runs it untraced, in a child
process), ``spatial_store`` included, and checks that the run is correct
and that every metric BENCHMARK.json names is reported with its unit.
Takes a few minutes:

    python3 perfbench/selftest.py
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


class SelfTestError(Exception):
    pass


def check(ok: bool, what: str) -> None:
    if not ok:
        raise SelfTestError(what)


def run(workload: str) -> tuple[dict, dict]:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "1", "--trace", "1", "--tiny"]
    out = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, timeout=600)
    check(out.returncode == 0, f"{workload}: exit code {out.returncode}")
    lines = out.stdout.strip().splitlines()
    return json.loads(lines[-2]), json.loads(lines[-1])


def main() -> int:
    sys.path.insert(0, HERE)
    from run import END_TO_END, per_layer_units
    from workloads import WORKLOADS

    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    e2e_spec = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    layer_spec = {m["name"]: m["unit"] for m in spec["per_layer"]}
    check(e2e_spec == END_TO_END, "BENCHMARK.json end_to_end differs from run.py")
    check(layer_spec == per_layer_units(), "BENCHMARK.json per_layer differs from run.py")

    check({w["name"] for w in spec["workloads"]} <= set(WORKLOADS), "BENCHMARK.json names an unknown workload")
    measured = set()  # per-layer metrics some benchmark workload reports
    for name in WORKLOADS:
        rec, res = run(name)
        check(set(res) == {"correct", "attempted", "failed", "metrics"}, f"{name}: result keys")
        check(res["correct"] and res["failed"] == 0, f"{name}: not correct: {rec.get('error')}")
        got = {k: v["unit"] for k, v in res["metrics"].items()}
        check(got == layer_spec, f"{name}: traced metrics differ from per_layer")
        untraced = rec["untraced"]["metrics"]
        check({k: v["unit"] for k, v in untraced.items()} == e2e_spec, f"{name}: end-to-end metrics")
        check(all(v["value"] > 0 for v in untraced.values()), f"{name}: an end-to-end metric is 0")
        check(rec["untraced"]["fail_frac"] == 0, f"{name}: untraced run failed an operation")
        for key in ("seed", "cores", "steal_pct", "inputs"):
            check(key in rec, f"{name}: record lacks {key}")
        if any(w["name"] == name for w in spec["workloads"]):
            measured |= {k for k, v in res["metrics"].items() if v["value"] != 0}
        print(f"ok {name}: {len(got)} per-layer and {len(untraced)} end-to-end metrics")
    # every layer is measured on a workload of the benchmark; only
    # quantities that can legitimately read 0 (no spill, no broadcast-free
    # shuffle, nothing persisted) are exempt
    may_be_zero = {"dedup.lsh_candidate_pairs.shuffle_bytes", "dedup.ngram_jaccard_pairs.spill_bytes"}
    missing = set(layer_spec) - measured - may_be_zero
    check(not missing, f"per-layer metrics no benchmark workload measures: {sorted(missing)}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
