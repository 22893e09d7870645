"""One benchmark run in this process: set up, time the workload in a
closed loop with one client, check every result, print the metrics.

Started by ``run.py``, which prepares the environment (worker import
path, CPU count, driver memory, local and temp dirs inside the run
directory) and removes the run directory afterwards.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import importlib  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import resource  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from collections import Counter, defaultdict  # noqa: E402

import spans as tr  # noqa: E402
import workloads as wl  # noqa: E402
from run import load_settings  # noqa: E402

END_TO_END = {  # name -> unit; BENCHMARK.json declares the first three
    "queries_per_s": "1/s",
    "query_p50_s": "s",
    "setup_s": "s",
    "peak_rss_mb": "MiB",
    "query_tail_s": "s",
    "query_tail_pct": "%",
    "ingest_rows_per_s": "rows/s",
    "failed_frac": "ratio",
    "steal_frac": "ratio",
}


def _log(msg: str) -> None:
    print(f"perfbench {time.perf_counter() - T0:7.2f}s {msg}", file=sys.stderr, flush=True)


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--workload", required=True, choices=sorted(wl.WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--run-dir", required=True)
    p.add_argument("--launched", type=float, required=True,
                   help="time.monotonic() just before this process was started")
    p.add_argument("--spans-out", default=None)
    return p.parse_args(argv)


def set_up(workload_cls):
    """Imports and session: the part of set-up before the workload."""
    for m in workload_cls.imports:
        importlib.import_module(m)
    from data_engineer_task_spark.session import get_spark

    t = time.perf_counter()
    spark = get_spark("perfbench")
    return spark, time.perf_counter() - t


def _timed(fn):
    t = time.perf_counter()
    try:
        out, err = fn(), None
    except Exception as e:  # an operation that errors counts as failed
        out, err = None, f"{type(e).__name__}: {str(e).splitlines()[0] if str(e) else ''}"
    return time.perf_counter() - t, out, err


def run_loop(spark, workload, args, passes: int, tracer):
    """Closed loop, one operation in flight. With a tracer, every
    operation runs twice, untraced and traced, in alternating order, so
    the tracing overhead is measured on the same operations; each
    variant has its own copy of the pass (its own warehouse)."""
    rng = random.Random(args.seed)
    variants = ("plain",) if tracer is None else ("plain", "traced")
    records = []
    settle_s = 0.0
    for pass_no in range(passes):
        op_lists = [workload.ops(f"{pass_no}-{v}") for v in variants]
        order = list(range(len(op_lists[0])))
        if workload.shuffled:
            rng.shuffle(order)
        for i, k in enumerate(order):
            for j in ((0,) if tracer is None else ((0, 1), (1, 0))[i % 2]):
                op, variant = op_lists[j][k], variants[j]
                fn = op.run if variant == "plain" else (lambda op=op: op.run_traced(tracer))
                dt, out, err = _timed(fn)
                records.append({"op": op, "variant": variant, "s": dt, "result": out, "error": err})
                _log(f"op {op.name} {variant} {dt:.3f}s{' ERROR' if err else ''}")
                t = time.perf_counter()
                wl.settle(spark)
                settle_s += time.perf_counter() - t
    _log(f"settle total {settle_s:.2f}s")
    return records


def check_results(records) -> None:
    for r in records:
        if r["error"] is None:
            try:
                r["op"].check(r["result"])
            except wl.CheckFailed as e:
                r["error"] = f"check: {e}"
            except Exception as e:
                r["error"] = f"check error: {type(e).__name__}: {e}"
        r["result"] = None


def cpu_times() -> list[int]:
    """Host-wide CPU jiffies from /proc/stat: user .. steal."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def steal_frac(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor took from this machine's virtual
    CPUs; a run with a high share was slowed by other tenants."""
    delta = [a - b for a, b in zip(after, before)]
    return delta[7] / sum(delta) if sum(delta) else 0.0


def peak_rss_mb(spark) -> float:
    jvm_pid = spark.sparkContext._gateway.proc.pid
    with open(f"/proc/{jvm_pid}/status") as f:
        hwm_kb = next(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
    return (hwm_kb + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss) / 1024.0


def tail(latencies: list[float]) -> tuple[float, float] | None:
    """Highest percentile with at least ten samples beyond it."""
    n = len(latencies)
    if n < 20:
        return None
    pct = math.floor(100.0 * (n - 10) / n)
    return pct, statistics.quantiles(latencies, n=100, method="inclusive")[pct - 1]


def end_to_end(records, setup_s: float, rss_mb: float, workload) -> dict:
    plain = [r for r in records if r["variant"] == "plain"]
    ok = [r for r in plain if r["error"] is None]
    lat = [r["s"] for r in plain]
    out = {
        "queries_per_s": len(ok) / sum(lat),
        "query_p50_s": statistics.median(lat),
        "setup_s": setup_s,
        "peak_rss_mb": rss_mb,
        "failed_frac": (len(records) - sum(r["error"] is None for r in records)) / len(records),
    }
    t = tail(lat)
    if t is not None:
        out["query_tail_s"] = t[1]
        out["query_tail_pct"] = t[0]
    ingests = [r["s"] for r in plain if r["op"].name == "ingest"]
    if ingests:
        out["ingest_rows_per_s"] = workload.rows / statistics.median(ingests)
    return out


def per_layer(tracer: tr.Tracer, records, get_spark_s: float, cpus: int) -> dict:
    spans = tracer.spans
    self_s = tr.self_times(spans)
    by_id = {s["id"]: s for s in spans}
    children = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            children[s["parent"]].append(s)

    def subtree_jobs(s) -> int:
        return len(s["jobs"]) + sum(subtree_jobs(c) for c in children[s["id"]])

    acc = defaultdict(Counter)
    for s in spans:
        a = acc[s["layer"]]
        a["s"] += self_s[s["id"]]
        a["jobs"] += len(s["jobs"])
        a["bytes"] += s.get("bytes", 0)
        parent = by_id.get(s["parent"])
        if parent is None or parent["layer"] != s["layer"]:
            a["calls"] += 1
    ops = [s for s in spans if s["layer"] == "op"]
    builds = [s for s in spans if s["layer"] == "plans.build"]
    plans = [s for s in spans if s["layer"] == "catalyst.plan"]
    execs = [s for s in spans if s["layer"] == "exec"]
    all_jobs = sum(subtree_jobs(s) for s in ops)
    build_jobs = sum(subtree_jobs(s) for s in builds)
    plan_c = sum((Counter(s["plan"]) for s in plans), Counter())
    stage_c = sum((Counter(s["stages"]) for s in execs), Counter())
    exec_wall = sum(s["t1"] - s["t0"] for s in execs)
    batches = tracer.batch_s()
    lt = acc["sources.load_table"]
    m = {
        "session.get_spark_s": get_spark_s,
        "sources.load_table.calls": lt["calls"],
        "sources.load_table.s": lt["s"],
        "sources.load_table.jobs": lt["jobs"],
        "sources.load_table.jobs_per_call": lt["jobs"] / lt["calls"] if lt["calls"] else 0.0,
        "sources.read_csv.s": acc["sources.read_csv"]["s"],
        "sources.write_parquet.s": acc["sources.write_parquet"]["s"],
        "sources.write_parquet.bytes": acc["sources.write_parquet"]["bytes"],
        "sources.ledger.seen_s": acc["sources.ledger.seen"]["s"],
        "sources.ledger.record_s": acc["sources.ledger.record"]["s"],
        "sources.s": sum(a["s"] for k, a in acc.items() if k.startswith("sources.")),
        "functions.gender_lookup_df.s": acc["functions.gender_lookup_df"]["s"],
        "functions.with_gender.s": acc["functions.with_gender"]["s"],
        "plans.build_self_s": acc["plans.build"]["s"],
        "plans.build_jobs": build_jobs,
        "plans.build_jobs_frac": build_jobs / all_jobs if all_jobs else 0.0,
        "plans.persisted_after": sum(s.get("persisted_after", 0) for s in ops),
        "operators.s": sum(a["s"] for k, a in acc.items() if k.startswith("operators.")),
        "operators.jobs": sum(a["jobs"] for k, a in acc.items() if k.startswith("operators.")),
        "streaming.s": acc["streaming"]["s"],
        "streaming.batches": len(batches),
        "streaming.batch_p50_s": statistics.median(batches) if batches else 0.0,
        "catalyst.plan_s": acc["catalyst.plan"]["s"],
        **{f"catalyst.{k}": plan_c[k] for k in ("plan_nodes", "exchanges", "joins", "python_eval_nodes")},
        "exec.s": acc["exec"]["s"],
        "exec.jobs": sum(subtree_jobs(s) for s in execs),
        **{f"exec.{k}": stage_c[k] for k in (
            "stages", "tasks", "failed_tasks", "executor_run_s", "executor_cpu_s", "gc_s",
            "input_bytes", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes")},
        "exec.result_rows": sum(s.get("result_rows", 0) for s in execs),
        "exec.core_busy_frac": stage_c["executor_run_s"] / (exec_wall * cpus) if exec_wall else 0.0,
        "ops.self_s": acc["op"]["s"],
        "ops.jobs": all_jobs,
    }
    for layer in sorted(k for k in acc if k.startswith("operators.")):
        for k in ("calls", "s", "jobs"):
            m[f"{layer}.{k}"] = acc[layer][k]
    plain = sum(r["s"] for r in records if r["variant"] == "plain")
    traced = sum(r["s"] for r in records if r["variant"] == "traced")
    m["trace.overhead_frac"] = traced / plain - 1.0
    m["trace.bookkeeping_s"] = tracer.bookkeeping_s
    return m


def declared_metrics(trace: int) -> list[dict]:
    here = os.path.dirname(os.path.abspath(__file__))
    with open(os.path.join(os.path.dirname(here), "BENCHMARK.json")) as f:
        bench = json.load(f)
    return bench["per_layer" if trace else "end_to_end"]


def main(argv=None) -> int:
    args = parse_args(argv)
    settings = load_settings()
    workload_cls = wl.WORKLOADS[args.workload]
    spark, get_spark_s = set_up(workload_cls)
    workload = workload_cls(settings, args.workload, args.run_dir, args.seed)
    t = time.perf_counter()
    workload.prepare(spark)
    inputs_s = time.perf_counter() - t
    _log(f"session up ({get_spark_s:.2f}s in get_spark), inputs ready ({inputs_s:.2f}s)")
    # Untimed warm-up pass: JIT and per-plan code generation land here,
    # not on whichever timed operations happen to run first.
    for op in workload.warm_up_ops():
        _, _, err = _timed(op.run)
        if err:
            _log(f"warm-up {op.name}: {err}")
        wl.settle(spark)
    # Set-up is process start to the first timed operation, less the time
    # the benchmark spent generating its own inputs.
    setup_s = time.monotonic() - args.launched - inputs_s
    _log(f"warmed up; setup_s {setup_s:.2f}")
    cfg = settings["workloads"][args.workload]
    passes = max(1, round(args.seconds / cfg["nominal_pass_s"]))
    tracer = uninstall = None
    if args.trace:
        tracer = tr.Tracer(spark)
        uninstall = tr.install(tracer)
    try:
        cpu_before = cpu_times()
        records = run_loop(spark, workload, args, passes, tracer)
        stolen = steal_frac(cpu_before, cpu_times())
        rss = peak_rss_mb(spark)
        _log(f"timed loop done: {len(records)} operations, {sum(r['s'] for r in records):.2f}s timed")
        if uninstall is not None:
            uninstall()
        check_results(records)
        _log("checks done")
        if args.trace:
            metrics = per_layer(tracer, records, get_spark_s, spark.sparkContext.defaultParallelism)
        else:
            metrics = end_to_end(records, setup_s, rss, workload)
        metrics["steal_frac"] = stolen
    finally:
        if tracer is not None:
            tracer.close()
        workload.close()
    declared = declared_metrics(args.trace)
    units = END_TO_END | {d["name"]: d["unit"] for d in declared}
    failed = [r for r in records if r["error"] is not None]
    for r in failed:
        print(f"FAILED {r['op'].name} ({r['variant']}): {r['error']}")
    for name, value in metrics.items():
        print(f"metric {args.workload} {name} {value} {units.get(name, '')}".rstrip())
    if tracer is not None and args.spans_out:
        os.makedirs(os.path.dirname(os.path.abspath(args.spans_out)), exist_ok=True)
        with open(args.spans_out, "w") as f:
            json.dump(tracer.spans, f)
    result = {
        "correct": not failed,
        "attempted": len(records),
        "failed": len(failed),
        "metrics": {d["name"]: {"value": metrics[d["name"]], "unit": d["unit"]} for d in declared},
    }
    spark.stop()
    print(json.dumps(result), flush=True)
    return 0 if not failed else 1


if __name__ == "__main__":
    try:
        sys.exit(main())
    except Exception:
        traceback.print_exc()
        sys.exit(2)
