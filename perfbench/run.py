"""sparkgouv benchmark: run one workload and print its metrics.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The run gets one fresh directory under
``.perfbench_runs/`` holding ``TMPDIR``, ``SPARK_LOCAL_DIRS``, the
working directory (and with it ``spark-warehouse/``), the Spark event
log and the PostgreSQL data directory; it is deleted at exit, so every
run starts with cold derived-data caches and leaves nothing behind.

This process supervises ``worker.py``, which does the work: it samples
the resident memory of the worker's process tree (the Python driver,
the JVM, the Python workers, ``psql`` and the PostgreSQL server),
enforces a time limit, stops every process the run started, and prints
two lines: the full record, then the result line

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

whose metrics are the end-to-end ones of BENCHMARK.json with
``--trace 0`` and the per-layer ones with ``--trace 1``.
"""

from __future__ import annotations

import time

T0 = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402
import uuid  # noqa: E402
from pathlib import Path  # noqa: E402

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE.parent))

from perfbench import procstat  # noqa: E402
from perfbench.workloads import SCALES, WORKLOADS  # noqa: E402

TIME_LIMIT_S = 170
END_TO_END_UNITS = {"setup_s": "s", "wall_s": "s", "op_p50_s": "s",
                    "cpu_s": "s", "peak_rss_mb": "MB"}


def _group_alive(pgid: int) -> bool:
    try:
        os.killpg(pgid, 0)
    except ProcessLookupError:
        return False
    return True


def _stop_group(pgid: int) -> None:
    """Wait for every process of the run's process group to end,
    killing what is left after a grace period. The last wait is bounded:
    a killed process that nobody reaps stays visible as a zombie."""
    for grace, sig in ((15, None), (5, signal.SIGKILL)):
        if sig is not None and _group_alive(pgid):
            os.killpg(pgid, sig)
        deadline = time.monotonic() + grace
        while _group_alive(pgid) and time.monotonic() < deadline:
            time.sleep(0.1)


class RssSampler(threading.Thread):
    def __init__(self, pid: int):
        super().__init__(daemon=True)
        self.pid = pid
        self.samples: list[tuple[float, float]] = []
        self.done = threading.Event()

    def run(self) -> None:
        while not self.done.wait(0.5):
            self.samples.append((time.time(), procstat.rss_mb([self.pid])))

    def peak(self, start: float, end: float) -> float:
        return max((v for t, v in self.samples if start <= t <= end), default=0.0)


def _terminate(signum, frame) -> None:
    raise SystemExit(128 + signum)  # unwinds through the clean-up below


def main() -> int:
    signal.signal(signal.SIGTERM, _terminate)
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=sorted(SCALES), default="bench",
                    help="input size: bench, or tiny for the benchmark's own tests")
    ap.add_argument("--expected", default=str(HERE / "expected.json"),
                    help="expected query-result hashes (default: perfbench/expected.json)")
    ap.add_argument("--record", help="also write the full record (with spans if traced) here")
    args = ap.parse_args()
    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; known: {', '.join(sorted(WORKLOADS))}",
              file=sys.stderr)
        return 2
    checkout = Path.cwd()
    if not (checkout / "datagouv_tools_spark" / "__init__.py").is_file():
        print("run from the root of a sparkgouv checkout: datagouv_tools_spark/ not found",
              file=sys.stderr)
        return 2

    root = checkout / ".perfbench_runs" / uuid.uuid4().hex[:12]
    tmp = root / "tmp"
    tmp.mkdir(parents=True)
    (root / "spark-local").mkdir()
    env = dict(os.environ)
    env.update({
        "TMPDIR": str(tmp),
        "SPARK_LOCAL_DIRS": str(root / "spark-local"),
        "PYTHONPATH": os.pathsep.join(filter(None, [str(checkout), env.get("PYTHONPATH")])),
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
    })
    cmd = [sys.executable, str(HERE / "worker.py"), "--workload", args.workload,
           "--seed", str(args.seed), "--seconds", str(args.seconds),
           "--trace", str(args.trace), "--size", args.size, "--t0", repr(T0),
           "--expected", str(Path(args.expected).resolve())]
    log = root / "worker.log"
    result = None
    try:
        with open(log, "wb") as fh:
            proc = subprocess.Popen(cmd, cwd=root, env=env, stdout=fh, stderr=subprocess.STDOUT,
                                    start_new_session=True)
        sampler = RssSampler(proc.pid)
        sampler.start()
        try:
            rc = proc.wait(timeout=TIME_LIMIT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            rc = proc.wait()
            print(f"worker exceeded {TIME_LIMIT_S} s and was killed", file=sys.stderr)
        finally:
            sampler.done.set()
            sampler.join()
            if proc.poll() is None:  # this process is being stopped
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
            _stop_group(proc.pid)
        if rc == 0 and (root / "result.json").is_file():
            result = json.loads((root / "result.json").read_text())
            result["peak_rss_mb"] = sampler.peak(result["phase_start"], result["phase_end"])
            if args.record:
                if (root / "spans.json").is_file():
                    result["trace_log"] = json.loads((root / "spans.json").read_text())
                Path(args.record).write_text(json.dumps(result, indent=1))
                result.pop("trace_log", None)
        else:
            sys.stderr.write(log.read_text(errors="replace")[-6000:])
            print(f"worker exited with code {rc}", file=sys.stderr)
    finally:
        shutil.rmtree(root, ignore_errors=True)
        with_runs = root.parent
        if with_runs.is_dir() and not any(with_runs.iterdir()):
            with_runs.rmdir()
    if result is None:
        return 1

    if args.trace:
        metrics = result["per_layer"]
    else:
        metrics = {k: {"value": result[k], "unit": u} for k, u in END_TO_END_UNITS.items()}
    print(json.dumps({k: v for k, v in result.items() if k != "per_layer"}))
    print(json.dumps({
        "correct": result["failed"] == 0,
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
