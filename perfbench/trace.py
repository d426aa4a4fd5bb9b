"""Tracing for the benchmark's traced runs (``--trace 1``).

Everything here is installed from outside the library; no library code
changes. Pieces:

- spans: every operation records an ``op`` span and its phases (``build``
  and ``fetch`` for a query); every call into a public function of
  ``operators``, ``sources``, ``pipelines`` or ``sinks`` records a span
  too. Spans are kept in memory and written as JSON at the end.
- job groups: while a phase or a wrapped call runs, the Spark job group
  is ``pb/<op>/<phase>/<wrapped call path>``, so the event log
  attributes every job to the call that launched it.
- a py4j counter on the gateway client's ``send_command``.
- a ``StreamingQueryListener`` collecting micro-batch progress, because
  micro-batch jobs run on the stream's own thread and do not inherit the
  caller's job group.
- ``parse_event_log`` reads the Spark event log written to the run
  directory.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import json
import pkgutil
import threading
import time
from contextlib import contextmanager
from pathlib import Path

WRAPPED_PACKAGES = ("operators", "sources", "pipelines", "sinks")
WRAPPED_METHODS = {"sinks.sink": ("DbApiExecutor.execute", "DbApiExecutor.commit")}
GROUP_PREFIX = "pb/"


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.progress: list[dict] = []
        self.py4j_calls = 0
        self.op: int | None = None
        self.phase = ""
        self._stack: list[str] = []
        self._sc = None
        self._own_call = False

    # -- installation -------------------------------------------------

    def install_wrappers(self) -> int:
        """Wrap the public functions of the wrapped packages and rebind
        every reference other library modules already hold. Call before
        the query registry is imported. Returns the number wrapped."""
        import datagouv_tools_spark as pkg

        modules = []
        for sub in WRAPPED_PACKAGES:
            pkg_mod = importlib.import_module(f"{pkg.__name__}.{sub}")
            modules.append(pkg_mod)
            for info in pkgutil.iter_modules(pkg_mod.__path__):
                modules.append(importlib.import_module(f"{pkg_mod.__name__}.{info.name}"))
        swap: dict[int, object] = {}
        for mod in modules:
            short = mod.__name__.removeprefix(pkg.__name__ + ".")
            for name, obj in list(vars(mod).items()):
                if (inspect.isfunction(obj) and not name.startswith("_")
                        and obj.__module__ == mod.__name__):
                    wrapped = self._wrap(f"{short}.{name}", obj)
                    setattr(mod, name, wrapped)
                    swap[id(obj)] = wrapped
            for path in WRAPPED_METHODS.get(short, ()):
                cls_name, meth = path.split(".")
                cls = getattr(mod, cls_name)
                setattr(cls, meth, self._wrap(f"{short}.{path}", getattr(cls, meth)))
        import sys

        for mod in list(sys.modules.values()):
            if getattr(mod, "__name__", "").startswith(pkg.__name__):
                for name, obj in list(vars(mod).items()):
                    if id(obj) in swap and inspect.isfunction(obj):
                        setattr(mod, name, swap[id(obj)])
        return len(swap)

    def bind(self, spark) -> None:
        """Count py4j calls and listen to streaming progress."""
        from pyspark.sql.streaming import StreamingQueryListener

        self._sc = spark.sparkContext
        client = self._sc._gateway._gateway_client
        send = client.send_command
        main = threading.main_thread()

        def counted(*args, **kwargs):
            if not self._own_call and threading.current_thread() is main:
                self.py4j_calls += 1
            return send(*args, **kwargs)

        client.send_command = counted
        sink = self.progress

        class Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                sink.append(json.loads(event.progress.json))

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        spark.streams.addListener(Listener())

    # -- spans and job groups -----------------------------------------

    def _set_group(self) -> None:
        if self._sc is None:
            return
        group = None
        if self.op is not None:
            group = GROUP_PREFIX + "/".join([str(self.op), self.phase, *self._stack])
        self._own_call = True
        try:
            self._sc.setLocalProperty("spark.jobGroup.id", group)
        finally:
            self._own_call = False

    def _record(self, name: str, kind: str, t0: float, w0: float, **extra) -> None:
        self.spans.append({
            "op": self.op, "phase": self.phase, "name": name, "kind": kind,
            "depth": len(self._stack), "path": "/".join(self._stack),
            "start": w0, "dur": time.perf_counter() - t0, **extra,
        })

    @contextmanager
    def span(self, name: str, **extra):
        """A phase span (``op``, ``build``, ``fetch``): sets the op or
        phase and the job group for its duration."""
        outer = (self.op, self.phase)
        if name == "op":
            self.op, self.phase = extra["op_id"], "op"
        else:
            self.phase = name
        self._set_group()
        p0, t0, w0 = self.py4j_calls, time.perf_counter(), time.time()
        try:
            yield
        finally:
            self._record(name, "phase", t0, w0, py4j=self.py4j_calls - p0, **extra)
            self.op, self.phase = outer
            self._set_group()

    def _wrap(self, qualname: str, fn):
        main = threading.main_thread()

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if self.op is None or threading.current_thread() is not main:
                return fn(*args, **kwargs)
            self._stack.append(qualname)
            self._set_group()
            t0, w0 = time.perf_counter(), time.time()
            try:
                return fn(*args, **kwargs)
            finally:
                self._stack.pop()
                self._record(qualname, "call", t0, w0)
                self._set_group()

        return wrapper

    def dump(self, path: Path) -> None:
        path.write_text(json.dumps({"spans": self.spans, "progress": self.progress}))


# -- event log ---------------------------------------------------------

_TASK_SUMS = {
    "executor_run_ms": ("Executor Run Time",),
    "executor_cpu_ns": ("Executor CPU Time",),
    "jvm_gc_ms": ("JVM GC Time",),
    "spill_bytes": ("Disk Bytes Spilled",),
    "shuffle_write_bytes": ("Shuffle Write Metrics", "Shuffle Bytes Written"),
    "shuffle_read_remote": ("Shuffle Read Metrics", "Remote Bytes Read"),
    "shuffle_read_local": ("Shuffle Read Metrics", "Local Bytes Read"),
}
_PY_ACCUMS = {
    "data sent to Python workers": "python_bytes_sent",
    "data returned from Python workers": "python_bytes_received",
}


def parse_event_log(log_dir: Path) -> list[dict]:
    """One record per job: group, submission time (epoch s), stage
    count and summed task metrics."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    for path in sorted(p for p in log_dir.rglob("*") if p.is_file()):
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    job = {
                        "group": (ev.get("Properties") or {}).get("spark.jobGroup.id") or "",
                        "submitted": ev["Submission Time"] / 1000.0,
                        "stages": 0, "tasks": 0,
                        **{k: 0 for k in _TASK_SUMS}, **{k: 0 for k in _PY_ACCUMS.values()},
                    }
                    jobs[ev["Job ID"]] = job
                    for sid in ev.get("Stage IDs", ()):
                        stage_job.setdefault(sid, ev["Job ID"])
                elif kind == "SparkListenerStageCompleted":
                    job = jobs.get(stage_job.get(ev["Stage Info"]["Stage ID"]))
                    if job is not None:
                        job["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    job = jobs.get(stage_job.get(ev["Stage ID"]))
                    if job is None:
                        continue
                    job["tasks"] += 1
                    metrics = ev.get("Task Metrics") or {}
                    for key, path_ in _TASK_SUMS.items():
                        v = metrics
                        for p in path_:
                            v = v.get(p, 0) if isinstance(v, dict) else 0
                        job[key] += v or 0
                    for acc in (ev.get("Task Info") or {}).get("Accumulables", ()):
                        key = _PY_ACCUMS.get(acc.get("Name"))
                        if key is not None:
                            job[key] += int(acc.get("Update") or 0)
    return list(jobs.values())
