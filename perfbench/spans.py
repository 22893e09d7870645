"""Spans and counts around calls into the engine's layers.

The tracer wraps public functions of the engine from the outside; no
program file changes. Plan modules bind ``load_table`` and operator
functions with ``from ... import``, so a wrapper set only on the
defining module would never fire: ``install`` rebinds every attribute
across ``sys.modules['data_engineer_task_spark.*']`` that is the same
object as a wrapped function.

A wrapper records a span only while another span is open, that is,
inside a traced operation; called outside one it runs the function
unchanged, so an untraced operation leaves no spans and sets no job
group. Each span runs under its own Spark job group, so a job is counted in
the innermost span that was open when it was submitted. Streaming
micro-batches run under the stream's own group (its run id); a
``StreamingQueryListener`` supplies those ids and the batch durations.
Spans stay in memory; the caller writes them out at exit.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import os
import pkgutil
import sys
import time
from collections import Counter
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError
from pyspark.sql.streaming import StreamingQueryListener

PKG = "data_engineer_task_spark"
STREAMING_MODULES = ("aggregate", "sink", "stateful")
# Physical operators that run Python in the executors (row UDFs, Arrow
# and pandas kernels).
PYTHON_EVAL_MARKERS = ("Python", "Pandas", "InArrow")


class _StreamListener(StreamingQueryListener):
    """Collects micro-batch durations and the run ids of streams."""

    def __init__(self):
        self.started: list[str] = []
        self.terminated: set[str] = set()
        self.batch_ms: list[tuple[str, int]] = []

    def onQueryStarted(self, event):
        self.started.append(str(event.runId))

    def onQueryProgress(self, event):
        self.batch_ms.append((str(event.progress.runId), event.progress.batchDuration))

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        self.terminated.add(str(event.runId))


class Tracer:
    """In-memory spans; one Spark job group per open span."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._next_id = 0
        self.claimed_runs: set[str] = set()
        self.bookkeeping_s = 0.0
        self.streams = _StreamListener()
        spark.streams.addListener(self.streams)

    def close(self) -> None:
        self.spark.streams.removeListener(self.streams)

    @property
    def active(self) -> bool:
        """True inside an open span: wrappers record only then."""
        return bool(self._stack)

    def batch_s(self) -> list[float]:
        """Durations of the micro-batches of streams a span started."""
        return [ms / 1e3 for run_id, ms in self.streams.batch_ms if run_id in self.claimed_runs]

    def _set_group(self, rec: dict | None) -> None:
        if rec is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.sc.setJobGroup(rec["group"], rec["name"])

    @contextmanager
    def span(self, name: str, layer: str | None = None, **attrs):
        b0 = time.perf_counter()
        rec = {
            "id": self._next_id,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "name": name,
            "layer": layer or name,
            "group": f"perfbench-span-{self._next_id}",
            **attrs,
        }
        self._next_id += 1
        n_streams = len(self.streams.started)
        self._set_group(rec)
        self._stack.append(rec)
        rec["t0"] = time.perf_counter()
        self.bookkeeping_s += rec["t0"] - b0
        try:
            yield rec
        finally:
            rec["t1"] = time.perf_counter()
            self._stack.pop()
            tracker = self.sc.statusTracker()
            jobs = set(tracker.getJobIdsForGroup(rec["group"]))
            # A stream belongs to the innermost span that started it;
            # nested spans close first and claim theirs.
            run_ids = [r for r in self.streams.started[n_streams:] if r not in self.claimed_runs]
            if run_ids:
                self._await_streams(run_ids)
                for run_id in run_ids:
                    jobs.update(tracker.getJobIdsForGroup(run_id))
                self.claimed_runs.update(run_ids)
                rec["stream_runs"] = run_ids
            rec["jobs"] = sorted(jobs)
            self._set_group(self._stack[-1] if self._stack else None)
            self.spans.append(rec)
            self.bookkeeping_s += time.perf_counter() - rec["t1"]

    def _await_streams(self, run_ids: list[str], timeout_s: float = 10.0) -> None:
        """Listener events arrive asynchronously; a stream's terminated
        event follows all of its progress events."""
        deadline = time.monotonic() + timeout_s
        while not set(run_ids) <= self.streams.terminated and time.monotonic() < deadline:
            time.sleep(0.01)


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span duration minus the time its direct children cover."""
    child_s = Counter()
    for s in spans:
        if s["parent"] is not None:
            child_s[s["parent"]] += s["t1"] - s["t0"]
    return {s["id"]: (s["t1"] - s["t0"]) - child_s[s["id"]] for s in spans}


def _import_all() -> None:
    pkg = importlib.import_module(PKG)
    for info in pkgutil.walk_packages(pkg.__path__, PKG + "."):
        importlib.import_module(info.name)


def _public_functions(module_name: str):
    mod = sys.modules[module_name]
    for attr, val in vars(mod).items():
        if (
            not attr.startswith("_")
            and inspect.isfunction(val)
            and val.__module__ == module_name
        ):
            yield attr, val


def _tree_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


def _wrap(tracer: Tracer, fn, name: str, layer: str, on_exit=None):
    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        if not tracer.active:
            return fn(*args, **kwargs)
        with tracer.span(name, layer) as rec:
            out = fn(*args, **kwargs)
            if on_exit is not None:
                on_exit(rec, args, kwargs)
            return out

    return wrapper


def _record_written_bytes(rec: dict, args, kwargs) -> None:
    path = kwargs.get("path", args[1] if len(args) > 1 else None)
    rec["bytes"] = _tree_bytes(path) if path and os.path.isdir(path) else 0


def install(tracer: Tracer):
    """Wrap each layer's public functions; returns an undo callable."""
    _import_all()
    m = sys.modules
    targets = [  # (function, span name, layer, on_exit)
        (m[f"{PKG}.sources.catalog"].load_table, "sources.load_table", "sources.load_table", None),
        (m[f"{PKG}.sources.csv"].read_csv, "sources.read_csv", "sources.read_csv", None),
        (
            m[f"{PKG}.sources.parquet"].write_parquet,
            "sources.write_parquet",
            "sources.write_parquet",
            _record_written_bytes,
        ),
        (m[f"{PKG}.functions.gender"].gender_lookup_df, "functions.gender_lookup_df", "functions.gender_lookup_df", None),
        (m[f"{PKG}.functions.gender"].with_gender, "functions.with_gender", "functions.with_gender", None),
    ]
    ops_pkg = importlib.import_module(f"{PKG}.operators")
    for info in pkgutil.iter_modules(ops_pkg.__path__):
        mod_name = f"{PKG}.operators.{info.name}"
        for attr, fn in _public_functions(mod_name):
            targets.append((fn, f"operators.{info.name}.{attr}", f"operators.{info.name}", None))
    for sub in STREAMING_MODULES:
        for attr, fn in _public_functions(f"{PKG}.streaming.{sub}"):
            targets.append((fn, f"streaming.{sub}.{attr}", "streaming", None))

    wrappers = {id(fn): (fn, _wrap(tracer, fn, name, layer, on_exit)) for fn, name, layer, on_exit in targets}
    undo: list[tuple[object, str, object]] = []
    for mod_name, mod in list(sys.modules.items()):
        if mod is None or not (mod_name == PKG or mod_name.startswith(PKG + ".")):
            continue
        for attr, val in list(vars(mod).items()):
            hit = wrappers.get(id(val))
            if hit is not None and hit[0] is val:
                setattr(mod, attr, hit[1])
                undo.append((mod, attr, val))

    ledger_cls = m[f"{PKG}.sources.ledger"].Ledger
    for meth in ("seen", "record"):
        orig = getattr(ledger_cls, meth)
        setattr(ledger_cls, meth, _wrap(tracer, orig, f"sources.ledger.{meth}", f"sources.ledger.{meth}"))
        undo.append((ledger_cls, meth, orig))

    def uninstall() -> None:
        for owner, attr, val in reversed(undo):
            setattr(owner, attr, val)

    return uninstall


def plan_stats(executed_plan) -> Counter:
    """Node counts of a physical plan. Under AQE this is the initial
    plan, exchanges included, so the counts do not depend on runtime
    statistics."""
    root = executed_plan
    if root.nodeName() == "AdaptiveSparkPlan":
        root = root.initialPlan()
    out = Counter()
    stack = [root]
    while stack:
        node = stack.pop()
        name = node.nodeName().strip()
        out["plan_nodes"] += 1
        if name.endswith("Exchange"):
            out["exchanges"] += 1
        if name.endswith("Join") or name == "CartesianProduct":
            out["joins"] += 1
        if any(marker in name for marker in PYTHON_EVAL_MARKERS):
            out["python_eval_nodes"] += 1
        children = node.children()
        stack.extend(children.apply(i) for i in range(children.size()))
    return out


def stage_stats(sc, job_ids) -> Counter:
    """Summed metrics of the stages that ran for ``job_ids``, read from
    the status store (works with the UI disabled)."""
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    out = Counter()
    seen: set[int] = set()
    for job_id in job_ids:
        info = tracker.getJobInfo(job_id)
        if info is None:
            continue
        for stage_id in info.stageIds:
            if stage_id in seen:
                continue
            seen.add(stage_id)
            try:
                sd = store.lastStageAttempt(stage_id)
            except Py4JJavaError:  # no longer retained by the status store
                continue
            if sd.status().toString() == "SKIPPED":  # its output was reused
                continue
            out["stages"] += 1
            out["tasks"] += sd.numTasks()
            out["failed_tasks"] += sd.numFailedTasks()
            out["executor_run_s"] += sd.executorRunTime() / 1e3
            out["executor_cpu_s"] += sd.executorCpuTime() / 1e9
            out["gc_s"] += sd.jvmGcTime() / 1e3
            out["input_bytes"] += sd.inputBytes()
            out["shuffle_read_bytes"] += sd.shuffleReadBytes()
            out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
            out["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
    return out
