"""Self-tests of the benchmark's tracing.

    python3 -m pytest perfbench/selftest -q

Two traced runs of one workload with one seed must give identical
counts; the build, Catalyst and execution spans must cover each query's
wall time; a wrapped operator must fire when a plan module calls it
through its own ``from ... import`` binding; and an operation run
outside a traced one must leave no spans. The traced runs take about
three minutes.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

import run

COUNTS = ("jobs", "stages", "tasks", "calls", "plan_nodes", "exchanges", "joins",
          "python_eval_nodes", "result_rows", "batches", "persisted_after")
# Part of a query's wall that its three spans may leave uncovered: the
# tracer's own bookkeeping between them.
COVER_TOLERANCE = 0.05
WORKLOAD, SEED = "pipeline_heavy", 7


def _traced_run(tmp_path, label):
    out = subprocess.run(
        [sys.executable, os.path.join(run.HERE, "run.py"), "--workload", WORKLOAD,
         "--seed", str(SEED), "--seconds", "1", "--trace", "1"],
        capture_output=True, text=True, timeout=300, cwd=run.ROOT,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    spans_file = os.path.join(run.ROOT, ".perfbench", "spans", f"{WORKLOAD}-seed{SEED}.json")
    kept = tmp_path / f"spans-{label}.json"
    shutil.copy(spans_file, kept)
    metrics = {}
    for line in out.stdout.splitlines():
        parts = line.split()
        if parts[:2] == ["metric", WORKLOAD]:
            metrics[parts[2]] = float(parts[3])
    return metrics, json.loads(kept.read_text()), json.loads(out.stdout.splitlines()[-1])


@pytest.fixture(scope="module")
def traced_pair(tmp_path_factory):
    tmp = tmp_path_factory.mktemp("traced")
    return _traced_run(tmp, "a"), _traced_run(tmp, "b")


def test_traced_run_reports_declared_per_layer_metrics(traced_pair):
    (_, _, result), _ = traced_pair
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
        declared = {m["name"] for m in json.load(f)["per_layer"]}
    assert result["correct"] and set(result["metrics"]) == declared


def _jobs_per_op(spans) -> list[tuple[str, int]]:
    """Spark jobs under each traced operation, in run order."""
    by_id = {s["id"]: s for s in spans}

    def root(s):
        while s["parent"] is not None:
            s = by_id[s["parent"]]
        return s["id"]

    jobs = {s["id"]: 0 for s in spans if s["layer"] == "op"}
    for s in spans:
        jobs[root(s)] += len(s["jobs"])
    return [(by_id[i]["name"], n) for i, n in sorted(jobs.items())]


def test_counts_repeat_across_traced_runs_with_one_seed(traced_pair):
    (a, spans_a, _), (b, spans_b, _) = traced_pair
    counted = sorted(k for k in a if k.rsplit(".", 1)[-1] in COUNTS or k.endswith("_nodes"))
    assert "sources.load_table.calls" in counted and "exec.tasks" in counted
    differing = [(x, y) for x, y in zip(_jobs_per_op(spans_a), _jobs_per_op(spans_b)) if x != y]
    assert {k: a[k] for k in counted} == {k: b.get(k) for k in counted}, f"jobs per operation differ: {differing}"


def test_query_spans_cover_the_query_wall(traced_pair):
    (_, spans, _), _ = traced_pair
    queries = [s for s in spans if s["layer"] == "op"]
    assert queries
    for q in queries:
        parts = [s for s in spans if s["parent"] == q["id"]]
        assert {s["layer"] for s in parts} == {"plans.build", "catalyst.plan", "exec"}
        covered = sum(s["t1"] - s["t0"] for s in parts)
        assert covered >= (1 - COVER_TOLERANCE) * (q["t1"] - q["t0"]), q["name"]


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    os.environ.update(run.bench_env(str(tmp_path_factory.mktemp("run")), run.load_settings()))
    from data_engineer_task_spark.session import get_spark

    session = get_spark("perfbench-selftest")
    yield session
    session.stop()


@pytest.fixture
def tracer(spark):
    import spans as tr

    t = tr.Tracer(spark)
    uninstall = tr.install(t)
    yield t
    uninstall()
    t.close()


def _entry_op(spark, name):
    import workloads as wl
    from data_engineer_task_spark.plans.analytics import QUERIES

    sf_dir = os.path.join(run.ROOT, run.load_settings()["workloads"]["pipeline_heavy"]["data_dir"])
    return wl.Op(name, build=lambda: QUERIES[name](spark, sf_dir))


def test_wrapped_operator_fires_through_a_plan_module_binding(spark, tracer):
    _entry_op(spark, "near_dup_pairs").run_traced(tracer)
    layers = {s["layer"] for s in tracer.spans}
    assert "operators.dedup" in layers
    assert "sources.load_table" in layers
    dedup = [s for s in tracer.spans if s["layer"] == "operators.dedup"]
    assert sum(len(s["jobs"]) for s in dedup) > 0


def test_untraced_operation_leaves_no_spans(spark, tracer):
    op = _entry_op(spark, "stream_running_user_totals")
    op.run()
    assert tracer.spans == [] and tracer.batch_s() == []
    op.run_traced(tracer)
    assert {"op", "streaming"} <= {s["layer"] for s in tracer.spans}
    assert all(s["layer"] == "op" or s["parent"] is not None for s in tracer.spans)
    assert tracer.batch_s()
