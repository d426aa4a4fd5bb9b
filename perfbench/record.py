"""Write ``perfbench/TRACED.json``: for each workload, one untraced and
one traced run with the same seed, the per-layer metrics of the traced
run, and the tracing overhead (traced ``wall_s`` minus untraced
``wall_s``).

    python3 perfbench/record.py [--seed N] [--seconds S] [workload ...]

Run from the root of a checkout; the default is every workload.
"""

from __future__ import annotations

import argparse
import json
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE.parent))

from perfbench.workloads import WORKLOADS  # noqa: E402

CONTEXT = ("nproc", "load_before", "load_after", "steal_s", "git_sha", "source_sha",
           "spark_version", "postgres_version", "passes", "op_samples", "op_median_s",
           "warmup_s", "ingest_rows_per_s", "op_fail_ratio", "failures")


def _run(workload: str, seed: int, seconds: float, trace: int) -> tuple[dict, dict]:
    proc = subprocess.run(
        [sys.executable, str(HERE / "run.py"), "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", str(trace)],
        capture_output=True, text=True, check=True,
    )
    record, result = proc.stdout.strip().splitlines()[-2:]
    return json.loads(record), json.loads(result)


def main() -> int:
    bench = json.loads((HERE.parent / "BENCHMARK.json").read_text())
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=bench["run_seconds"])
    ap.add_argument("workloads", nargs="*", default=sorted(WORKLOADS))
    args = ap.parse_args()
    out = {"declared_workloads": [w["name"] for w in bench["workloads"]], "workloads": {}}
    for name in args.workloads:
        plain, plain_result = _run(name, args.seed, args.seconds, 0)
        traced, traced_result = _run(name, args.seed, args.seconds, 1)
        out["workloads"][name] = {
            "seed": args.seed,
            "end_to_end": plain_result["metrics"],
            "per_layer": traced_result["metrics"],
            "tracing_overhead_s": traced["wall_s"] - plain["wall_s"],
            "attempted": plain_result["attempted"] + traced_result["attempted"],
            "failed": plain_result["failed"] + traced_result["failed"],
            "untraced": {k: plain.get(k) for k in CONTEXT},
            "traced": {k: traced.get(k) for k in CONTEXT},
        }
        print(f"{name}: overhead {out['workloads'][name]['tracing_overhead_s']:.2f} s", flush=True)
    (HERE / "TRACED.json").write_text(json.dumps(out, indent=1, sort_keys=True) + "\n")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
