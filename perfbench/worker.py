"""Runs one workload inside a prepared run directory.

``run.py`` starts this process with the run directory as its working
directory and ``TMPDIR``/``SPARK_LOCAL_DIRS``/``PYTHONPATH`` set, and
reads back ``result.json``. The steps:

1. set-up: write the inputs, start PostgreSQL (``etl_pg``) and Spark,
   then run the workload's untimed warm-up passes: the first fills the
   derived-data caches and loads the streaming engine, the rest let the
   JVM's compiled code settle;
2. the measured phase: whole passes in seeded order, one operation at a
   time (a closed loop with one client), for ``--seconds`` give or take
   half a pass;
3. every result is checked: a query against its DuckDB-oracle hash in
   ``expected.json``, an import against what PostgreSQL holds afterwards.

With ``--trace 1`` the run also records spans, job groups, py4j calls,
the Spark event log and streaming progress, and reports the per-layer
metrics instead of the end-to-end ones.
"""

from __future__ import annotations

import argparse
import contextlib
import hashlib
import json
import os
import random
import statistics
import subprocess
import sys
import time
import traceback
import zipfile
from concurrent.futures import ThreadPoolExecutor
from datetime import datetime
from pathlib import Path

CHECKOUT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(CHECKOUT))

from perfbench import datagen, procstat  # noqa: E402
from perfbench.oracle import result_hash  # noqa: E402
from perfbench.workloads import ETL_SIZES, SCALES, WORKLOADS  # noqa: E402

DRIVER_MEM = "1536m"
CACHE_PREFIX = "spark_graft_"  # derived-data caches the queries keep under TMPDIR
FRAME_FNS = ("pipelines.sirene.sirene_table", "pipelines.fantoir.fantoir_tables",
             "pipelines.deces.deces_dataframe")
STAGE_FNS = ("sources.zipped_csv.unzip_to_staging", "sources.fixed_width.stage_fantoir")
LOAD_FN = "sinks.pg_copy.copy_dataframe"
DDL_FNS = ("sinks.sink.DbApiExecutor.execute", "sinks.sink.DbApiExecutor.commit")
PIPELINE_OF = {"import_sirene": "sirene", "import_fantoir": "fantoir",
               "import_deces": "deces", "curate_corpus": "curate"}


def _tree_size(path: Path) -> tuple[int, int]:
    files = size = 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            with contextlib.suppress(OSError):
                size += os.path.getsize(os.path.join(dirpath, n))
                files += 1
    return files, size


def _tmp_usage(tmp: Path) -> dict[str, tuple[int, int]]:
    """(files, bytes) of the derived-data caches and of everything else
    (checkpoints and maintained stores) under the run's temp root."""
    out = {"cache": (0, 0), "store": (0, 0)}
    for entry in tmp.iterdir():
        kind = "cache" if entry.name.startswith(CACHE_PREFIX) else "store"
        f, b = _tree_size(entry) if entry.is_dir() else (1, entry.stat().st_size)
        out[kind] = (out[kind][0] + f, out[kind][1] + b)
    return out


def _source_sha() -> str:
    h = hashlib.sha256()
    for path in sorted((CHECKOUT / "datagouv_tools_spark").rglob("*.py")):
        h.update(path.relative_to(CHECKOUT).as_posix().encode() + b"\0" + path.read_bytes())
    return h.hexdigest()[:16]


def _git_sha() -> str | None:
    res = subprocess.run(["git", "-C", str(CHECKOUT), "rev-parse", "HEAD"],
                         capture_output=True, text=True)
    return res.stdout.strip() if res.returncode == 0 else None


class Run:
    def __init__(self, args: argparse.Namespace):
        self.args = args
        self.root = Path.cwd()
        self.tmp = Path(os.environ["TMPDIR"])
        self.workload = WORKLOADS[args.workload]
        self.nproc = len(os.sched_getaffinity(0))
        self.data_dir = self.root / "data"
        self.etl_dir = self.root / "etl"
        self.expected = json.loads(Path(args.expected).read_text())[str(SCALES[args.size])]
        self.tracer = None
        self.pg = None
        self.spark = None
        self.ops: list[dict] = []
        self.failures: list[dict] = []
        self.etl_expect: dict[str, dict] = {}
        self.record: dict = {}
        # the worker's process tree: Python driver, JVM, Python workers,
        # psql and the PostgreSQL server
        self.cpu_roots = [os.getpid()]

    # -- set-up -------------------------------------------------------

    def setup(self) -> None:
        import datagouv_tools_spark

        lib = Path(datagouv_tools_spark.__file__).resolve()
        if CHECKOUT not in lib.parents:
            raise RuntimeError(f"library imported from outside the checkout: {lib}")
        if self.args.trace:
            from perfbench.trace import Tracer

            self.tracer = Tracer()
            self.record["wrapped_functions"] = self.tracer.install_wrappers()
        # inputs and PostgreSQL get ready while the JVM starts
        with ThreadPoolExecutor(1) as pool:
            inputs = pool.submit(self._make_inputs)
            self._start_spark()
            inputs.result()
        from datagouv_tools_spark.queries import QUERIES

        self.queries = QUERIES
        if self.tracer is not None:
            self.tracer.bind(self.spark)

    def _make_inputs(self) -> None:
        if self.workload.tables:
            datagen.write_tables(self.data_dir, SCALES[self.args.size], self.workload.tables)
        if self.workload.etl:
            self.etl_expect = datagen.write_etl_inputs(
                self.etl_dir, self.args.seed, ETL_SIZES[self.args.size])
            from perfbench.pg import Postgres

            self.pg = Postgres(self.root, max_connections=self.nproc + 2)
            self.pg.start()
            self.record["postgres_version"] = self.pg.version()

    def _start_spark(self) -> None:
        from datagouv_tools_spark.session import get_spark

        # A fixed heap, resident from the start: peak memory then does not
        # depend on when the collector grew or first touched the heap.
        # Without -XX:-UsePerfData the JVM writes /tmp/hsperfdata_<user>.
        os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
        conf = {"spark.driver.extraJavaOptions":
                f"-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch -XX:-UsePerfData "
                f"-Djava.io.tmpdir={self.tmp}"}
        if self.args.trace:
            (self.root / "eventlog").mkdir()
            conf |= {"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": (self.root / "eventlog").as_uri(),
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.rolling.enabled": "false"}
        t0 = time.perf_counter()
        self.spark = get_spark("perfbench", master=f"local[{self.nproc}]", extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        self.record["session_start_s"] = time.perf_counter() - t0
        self.record["spark_version"] = self.spark.version

    # -- operations ---------------------------------------------------

    def _span(self, name: str, **extra):
        if self.tracer is None:
            return contextlib.nullcontext()
        return self.tracer.span(name, **extra)

    def run_op(self, name: str, measured: bool) -> None:
        op = {"id": len(self.ops), "name": name, "measured": measured, "rows": 0}
        self.ops.append(op)
        error = None
        cpu0 = procstat.cpu_seconds(self.cpu_roots)
        op["start"] = time.time()
        t0 = time.perf_counter()
        try:
            with self._span("op", op_id=op["id"], op_name=name):
                if name in self.workload.queries:
                    with self._span("build"):
                        df = self.queries[name](self.spark, str(self.data_dir))
                    with self._span("fetch"):
                        rows = df.collect()
                    op["dur"] = time.perf_counter() - t0
                    op["rows"] = len(rows)
                    if result_hash(df.columns, rows) != self.expected[name]:
                        error = "result hash differs from the DuckDB oracle's"
                else:
                    check = self._etl(name)
                    op["dur"] = time.perf_counter() - t0
                    error = check(op)
        except Exception:  # noqa: BLE001 - a failed operation is counted, the run goes on
            op.setdefault("dur", time.perf_counter() - t0)
            error = traceback.format_exc(limit=3)
        op["end"] = time.time()
        op["cpu"] = procstat.cpu_seconds(self.cpu_roots) - cpu0
        op["ok"] = error is None
        if error is not None:
            self.failures.append({"op": name, "measured": measured, "error": error[-2000:]})

    def _etl(self, name: str):
        """Run one import; return the check to run on its outcome."""
        from datagouv_tools_spark.pipelines.curate import curate_corpus
        from datagouv_tools_spark.pipelines.deces import import_deces
        from datagouv_tools_spark.pipelines.fantoir import import_fantoir
        from datagouv_tools_spark.pipelines.sirene import import_sirene

        dsn = self.pg.dsn
        if name == "import_sirene":
            import_sirene(self.spark, self.etl_dir / "sirene", dsn=dsn,
                          staging_dir=str(self.etl_dir / "staging"))
            return lambda op: self._check_pg(op, ["stock_unite_legale"])
        if name == "import_fantoir":
            import_fantoir(self.spark, self.etl_dir / "fantoir.txt", dsn=dsn)
            return lambda op: self._check_pg(op, ["commune", "voie"])
        if name == "import_deces":
            import_deces(self.spark, self.etl_dir / "deces.txt", rdbms="pg", dsn=dsn)
            return lambda op: self._check_pg(op, ["deces"])
        out = self.etl_dir / "curated"
        report = curate_corpus(
            self.spark.read.parquet(str(self.etl_dir / "curate_docs.parquet")), str(out))
        return lambda op: self._check_curate(op, report, out)

    def _check_pg(self, op: dict, tables: list[str]) -> str | None:
        for table in tables:
            want = self.etl_expect[table]
            [[rows, checksum]] = self.pg.query(
                datagen.pg_checksum_sql(f'"{table}"', f'"{want["column"]}"::text'))
            op["rows"] += int(rows)
            if int(rows) != want["rows"] or checksum != want["checksum"]:
                return (f"{table}: {rows} rows, checksum {checksum}; "
                        f"generated {want['rows']} rows, checksum {want['checksum']}")
        return None

    def _check_curate(self, op: dict, report, out: Path) -> str | None:
        import pyarrow.dataset as ds

        want = self.etl_expect["curate_docs"]
        ids = ds.dataset(out, format="parquet", partitioning="hive").to_table(
            columns=["doc_id"]).column("doc_id").to_pylist()
        op["rows"] = report.n_input
        problems = []
        if report.n_input != want["rows"]:
            problems.append(f"n_input {report.n_input} != {want['rows']}")
        if report.n_after_exact_dedup != want["distinct_texts"]:
            problems.append(f"exact dedup kept {report.n_after_exact_dedup}, "
                            f"generated {want['distinct_texts']} distinct texts")
        if len(ids) != sum(report.split_counts.values()) or len(set(ids)) != len(ids):
            problems.append(f"output holds {len(ids)} rows ({len(set(ids))} distinct ids), "
                            f"report says {sum(report.split_counts.values())}")
        return "; ".join(problems) or None

    # -- phases -------------------------------------------------------

    def go(self) -> None:
        rng = random.Random(self.args.seed)
        ops = list(self.workload.ops)
        self.record["load_before"] = os.getloadavg()
        # Warm-up: the first pass fills the caches and pays first-time
        # compilation; the JVM keeps getting faster after that as its
        # compiled code settles. A fixed number of passes, not a time, so
        # every run has done the same work when the measured phase starts.
        for i in range(self.workload.warmup_passes if self.args.size == "bench" else 1):
            for name in rng.sample(ops, len(ops)):
                self.run_op(name, measured=False)
            if i == 0:
                self.record["cache_bytes"] = _tmp_usage(self.tmp)["cache"][1]
                self.record["warmup_s"] = {op["name"]: op["dur"] for op in self.ops}

        # Whole passes, at least one; another starts only if a pass as long
        # as the last one would end less than half a pass after --seconds,
        # so the phase lasts --seconds give or take half a pass.
        phase_start = time.time()
        steal0 = procstat.steal_seconds()
        passes, last = 0, 0.0
        while passes == 0 or time.time() - phase_start + last / 2 < self.args.seconds:
            t = time.time()
            for name in rng.sample(ops, len(ops)):
                self.run_op(name, measured=True)
            passes, last = passes + 1, time.time() - t
        phase_end = time.time()
        self.record["steal_s"] = procstat.steal_seconds() - steal0
        self.record["load_after"] = os.getloadavg()

        measured = [op for op in self.ops if op["measured"]]

        def per_op_median(key: str) -> dict[str, float]:
            return {name: statistics.median(op[key] for op in measured if op["name"] == name)
                    for name in ops}

        op_median = per_op_median("dur")
        op_cpu_median = per_op_median("cpu")
        imports = [op for op in measured if op["name"].startswith("import_")]
        self.record.update({
            "phase_start": phase_start, "phase_end": phase_end, "passes": passes,
            "setup_s": phase_start - self.args.t0,
            "wall_s": sum(op_median.values()),
            "op_p50_s": statistics.median(op["dur"] for op in measured),
            "op_samples": len(measured),
            "cpu_s": sum(op_cpu_median.values()),
            "ingest_rows_per_s": (sum(op["rows"] for op in imports)
                                  / sum(op["dur"] for op in imports)) if imports else None,
            "op_median_s": op_median,
            "op_cpu_median_s": op_cpu_median,
            "op_durations_s": {name: [op["dur"] for op in measured if op["name"] == name]
                               for name in ops},
            "store": _tmp_usage(self.tmp)["store"],
        })
        if self.pg is not None:
            self.record["pg"] = self._pg_sizes()
        if self.tracer is not None:
            self._drain_progress()

    def _pg_sizes(self) -> dict:
        tables = [t for t in self.etl_expect if t != "curate_docs"]
        names = ",".join(f"'{t}'" for t in tables)
        [[size]] = self.pg.query(
            f"SELECT sum(pg_total_relation_size(c.oid)) FROM pg_class c "
            f"WHERE c.relname IN ({names}) AND c.relkind = 'r'")
        with zipfile.ZipFile(self.etl_dir / "sirene" / "StockUniteLegale_utf8.zip") as zf:
            input_bytes = sum(i.file_size for i in zf.infolist())
        input_bytes += sum((self.etl_dir / f).stat().st_size for f in ("fantoir.txt", "deces.txt"))
        return {"bytes": int(size), "input_bytes": input_bytes}

    def _drain_progress(self) -> None:
        """Streaming progress reaches the listener asynchronously; wait
        until none has arrived for half a second (at most 5 s)."""
        deadline = time.monotonic() + 5
        seen = -1
        while time.monotonic() < deadline and seen != len(self.tracer.progress):
            seen = len(self.tracer.progress)
            time.sleep(0.5)

    # -- output -------------------------------------------------------

    def summary(self) -> dict:
        attempted = len(self.ops)
        failed = len(self.failures)
        return {
            **self.record,
            "postgres_version": self.record.get("postgres_version") or subprocess.run(
                ["postgres", "--version"], capture_output=True, text=True).stdout.strip(),
            "workload": self.workload.name, "seed": self.args.seed,
            "size": self.args.size, "trace": self.args.trace, "nproc": self.nproc,
            "git_sha": _git_sha(), "source_sha": _source_sha(),
            "attempted": attempted, "failed": failed,
            "op_fail_ratio": failed / attempted if attempted else None,
            "failures": self.failures,
        }

    def layer_metrics(self) -> dict:
        from perfbench.trace import GROUP_PREFIX, parse_event_log

        passes = self.record["passes"]
        measured = {op["id"]: op for op in self.ops if op["measured"]}
        spans = [s for s in self.tracer.spans if s["op"] in measured]

        def span_sum(pred) -> float:
            return sum(s["dur"] for s in spans if pred(s)) / passes

        def outermost(prefixes) -> callable:
            def pred(s):
                return (s["kind"] == "call" and s["name"].startswith(prefixes)
                        and not any(p.startswith(prefixes) for p in s["path"].split("/")))
            return pred

        jobs = []
        windows = sorted((op["start"], op["end"], op["id"]) for op in self.ops)
        for job in parse_event_log(self.root / "eventlog"):
            if job["group"].startswith(GROUP_PREFIX):
                op_id, phase, *path = job["group"][len(GROUP_PREFIX):].split("/")
                op_id = int(op_id)
            else:  # micro-batch jobs: attribute by time to the running op
                op_id = next((i for s, e, i in windows if s <= job["submitted"] <= e), None)
                phase, path = "stream", []
            if op_id in measured:
                jobs.append({**job, "phase": phase, "path": path})

        def job_sum(key, pred=lambda j: True) -> float:
            return sum(j[key] for j in jobs if pred(j)) / passes

        def eager(x):  # query build, or anywhere in an import (which has no fetch)
            return x["phase"] in ("build", "op")

        progress = []
        stream_windows = [(op["start"], op["end"]) for op in measured.values()]
        for p in self.tracer.progress:
            ts = datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()
            if any(s <= ts <= e for s, e in stream_windows):
                progress.append(p)
        last_by_run: dict[str, dict] = {}
        for p in progress:
            last_by_run[p["runId"]] = p

        def dur(key: str) -> float:
            return sum(p["durationMs"].get(key, 0) for p in progress) / 1000 / passes

        def state(key: str) -> float:
            return sum(sum(s.get(key, 0) for s in p.get("stateOperators", ()))
                       for p in last_by_run.values()) / passes

        warm, med = self.record["warmup_s"], self.record["op_median_s"]
        rows_per_s = {}
        for op_name, pipe in PIPELINE_OF.items():
            runs = [op for op in measured.values() if op["name"] == op_name]
            rows_per_s[pipe] = (statistics.median(op["rows"] / op["dur"] for op in runs)
                                if runs else 0.0)
        pg = self.record.get("pg", {"bytes": 0, "input_bytes": 1})
        s = lambda v: {"value": v, "unit": "s"}  # noqa: E731
        count = lambda v: {"value": v, "unit": "count"}  # noqa: E731
        nbytes = lambda v: {"value": v, "unit": "bytes"}  # noqa: E731
        m = {
            "session.start_s": s(self.record["session_start_s"]),
            "queries.build_s": s(span_sum(lambda x: x["name"] == "build")),
            "queries.build_jobs": count(sum(1 for j in jobs if j["phase"] == "build") / passes),
            "queries.build_py4j_calls": count(sum(x.get("py4j", 0) for x in spans
                                                  if x["name"] == "build") / passes),
            "queries.fetch_s": s(span_sum(lambda x: x["name"] == "fetch")),
            "queries.fetch_rows": count(sum(op["rows"] for op in measured.values()
                                            if op["name"] in self.workload.queries) / passes),
            "queries.cold_premium_s": s(sum(warm[n] - med[n] for n in med)),
            "queries.cache_bytes": nbytes(self.record["cache_bytes"]),
            "operators.build_s": s(span_sum(lambda x: eager(x) and outermost("operators.")(x))),
            "operators.build_jobs": count(sum(
                1 for j in jobs if eager(j) and any(p.startswith("operators.") for p in j["path"])
            ) / passes),
            "spark.jobs": count(len(jobs) / passes),
            "spark.stages": count(job_sum("stages")),
            "spark.tasks": count(job_sum("tasks")),
            "spark.shuffle_read_bytes": nbytes(job_sum("shuffle_read_remote")
                                               + job_sum("shuffle_read_local")),
            "spark.shuffle_write_bytes": nbytes(job_sum("shuffle_write_bytes")),
            "spark.spill_bytes": nbytes(job_sum("spill_bytes")),
            "spark.executor_run_s": s(job_sum("executor_run_ms") / 1000),
            "spark.executor_cpu_s": s(job_sum("executor_cpu_ns") / 1e9),
            "spark.jvm_gc_s": s(job_sum("jvm_gc_ms") / 1000),
            "spark.python_bytes_sent": nbytes(job_sum("python_bytes_sent")),
            "spark.python_bytes_received": nbytes(job_sum("python_bytes_received")),
            **{f"pipelines.{p}.rows_per_s": {"value": v, "unit": "rows/s"}
               for p, v in rows_per_s.items()},
            "pipelines.frame_s": s(span_sum(outermost(FRAME_FNS))),
            "sources.stage_s": s(span_sum(outermost(STAGE_FNS))),
            "sinks.load_s": s(span_sum(outermost((LOAD_FN,)))),
            "sinks.copy_streams": count(job_sum("tasks", lambda j: LOAD_FN in j["path"])),
            "sinks.ddl_s": s(span_sum(outermost(DDL_FNS))),
            "sinks.statements": count(sum(1 for x in spans if x["name"] == DDL_FNS[0]) / passes),
            "sinks.pg_rows": count(sum(op["rows"] for op in measured.values()
                                       if op["name"].startswith("import_")) / passes),
            "sinks.pg_bytes_per_input_byte": {"value": pg["bytes"] / pg["input_bytes"],
                                              "unit": "ratio"},
            "streaming.batches": count(len(progress) / passes),
            "streaming.trigger_s": s(dur("triggerExecution")),
            "streaming.add_batch_s": s(dur("addBatch")),
            "streaming.log_commit_s": s(dur("walCommit") + dur("commitOffsets")),
            "streaming.input_rows": count(sum(p.get("numInputRows", 0) for p in progress)
                                          / passes),
            "streaming.state_rows": count(state("numRowsTotal")),
            "streaming.state_bytes": nbytes(state("memoryUsedBytes")),
            "streaming.store_files": count(self.record["store"][0]),
            "streaming.store_bytes": nbytes(self.record["store"][1]),
            "trace.wall_s": s(self.record["wall_s"]),
        }
        return m


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--size", choices=sorted(SCALES), required=True)
    ap.add_argument("--t0", type=float, required=True)
    ap.add_argument("--expected", required=True)
    args = ap.parse_args()

    out = Path.cwd() / "result.json"
    run = Run(args)
    try:
        run.setup()
        run.go()
        out.write_text(json.dumps(run.summary()))
    finally:
        stop_error = None
        if run.spark is not None:
            try:
                run.spark.stop()
            except Exception:  # noqa: BLE001 - the result is already written
                stop_error = traceback.format_exc(limit=3)
        if run.pg is not None:
            run.pg.stop()
    summary = run.summary()
    summary["stop_error"] = stop_error
    if run.tracer is not None:
        summary["per_layer"] = run.layer_metrics()
        run.tracer.dump(Path.cwd() / "spans.json")
    out.write_text(json.dumps(summary))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
