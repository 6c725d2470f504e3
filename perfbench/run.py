"""Lake benchmark: one closed-loop client runs a workload's fixed, seeded
op sequence against the engine on Spark ``local[nproc]``, checks every
result, and prints its metrics.

    python3 perfbench/run.py --workload lake_read --seed 1 --seconds 10 --trace 0

The last stdout line is the result object (``correct``, ``attempted``,
``failed``, ``metrics``): the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``. The line before it is a
``report`` object with per-class latencies, sample counts, the checks
and the host record. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import hashlib
import importlib
import json
import os
import shutil
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path[:0] = [str(HERE), str(ROOT)]

from common import (JobGroups, class_summary, calibrate, cpu_times,  # noqa: E402
                    geomean, median, start_spark, steal_frac, stop_spark)

WORKLOADS = ("lake_read", "lake_write", "prep_ops")
SETUP_REPS = 3
clock = time.perf_counter

# named per-class latencies in the report: metric -> op class
NAMED = {
    "lake_read": {"point_p50_s": "point", "point_p90_s": "point",
                  "scan_p50_s": "scan", "join_p50_s": "join",
                  "meta_p50_s": "meta", "mv_p50_s": "mv"},
    "lake_write": {"insert_p50_s": "insert", "update_p50_s": "update",
                   "delete_p50_s": "delete", "merge_p50_s": "merge",
                   "mor_delete_p50_s": "mor_delete", "scan_p50_s": "read"},
    "prep_ops": {"graph_p50_s": "graph", "dedup_p50_s": "dedup"},
}

SQL_CLASSES = ("point", "scan", "join", "meta", "mv", "insert", "update",
               "delete", "merge", "mor_delete", "compact", "read", "mor_read")
ALL_CLASSES = SQL_CLASSES + ("graph", "dedup")
EVENT_CLASSES = ("scan", "join", "graph", "dedup")
REWRITE_CLASSES = ("update", "delete", "merge", "mor_delete", "compact")


def per_layer_names() -> list[str]:
    names = [f"sql.call_s.{c}" for c in SQL_CLASSES]
    for m in ("action_s", "jobs", "stages", "tasks"):
        names += [f"spark.{m}.{c}" for c in ALL_CLASSES]
    for m in ("shuffle_bytes", "spill_bytes", "gc_s", "task_s"):
        names += [f"spark.{m}.{c}" for c in EVENT_CLASSES]
    names += ["catalog.manifest.load_calls", "catalog.manifest.load_s",
              "catalog.manifest.update_calls", "catalog.manifest.update_s",
              "catalog.manifest.conflicts",
              "catalog.table.read_calls", "catalog.table.read_s",
              "catalog.table.insert_s", "catalog.table.write_job_s",
              "catalog.table.compact_s",
              "prune.files_total", "prune.files_kept",
              "mv.answer_s", "mv.hit_frac",
              "operators.dml.update_s", "operators.dml.delete_s",
              "operators.mor.delete_s", "operators.merge.execute_s"]
    names += [f"store.files_rewritten.{c}" for c in REWRITE_CLASSES]
    names += ["store.segments", "store.files", "store.bytes",
              "store.bytes_written", "store.write_amp",
              "operators.graph.pagerank.construct_s",
              "operators.graph.pagerank.action_s",
              "operators.dedup.ngram_jaccard_s", "operators.graph.cc_s",
              "host.calibration_s", "host.steal_frac", "trace.overhead_frac"]
    return names


def unit_of(name: str) -> str:
    if name.endswith("_s") or "_s." in name:
        return "s"
    if "bytes" in name:
        return "bytes"
    if name.endswith(("_frac", "_amp")):
        return "ratio"
    return "count"


# ------------------------------------------------------------------ store

def store_state(state: dict) -> dict:
    """Queryable files (from the manifest) and data files on disk (any
    file outside ``_meta``) of the workload's tables."""
    out = {"queryable": {}, "disk": {}}
    eng = state["eng"]
    for name in state["tables"]:
        t = eng.table(name)
        for seg in t.manifest.queryable_segments():
            for f in seg.files:
                out["queryable"][(name, seg.id, f.path)] = f.bytes
        for dirpath, dirs, files in os.walk(t.table_dir):
            dirs[:] = [d for d in dirs if d != "_meta"]
            for fn in files:
                if not fn.startswith((".", "_")):
                    p = os.path.join(dirpath, fn)
                    out["disk"][p] = os.path.getsize(p)
    return out


def store_delta(before: dict, after: dict) -> dict:
    written = sum(v for p, v in after["disk"].items()
                  if p not in before["disk"])
    gone = {k[2] for k in before["queryable"]} - {k[2] for k in after["queryable"]}
    return {"bytes_written": written, "files_rewritten": len(gone)}


def sequence_digest(ops, data: dict) -> str:
    """Hash of the op list and every generated input frame."""
    import pandas as pd

    h = hashlib.sha256(json.dumps([(op.cls, op.text) for op in ops]).encode())
    todo = list(data.values()) + [op.arg for op in ops]
    while todo:
        x = todo.pop(0)
        if isinstance(x, pd.DataFrame):
            h.update(pd.util.hash_pandas_object(x, index=False).values.tobytes())
        elif isinstance(x, dict):
            todo.extend(x.values())
        elif isinstance(x, list):
            todo.extend(x)
    return h.hexdigest()[:16]


# ------------------------------------------------------------------ passes

def run_pass(mod, state: dict, ops, tracer=None, groups=None,
             point_table=None) -> dict:
    """Closed loop over ``ops``. Untimed between ops: client-side
    staging and, when tracing, the job-group and store readouts."""
    wall = 0.0
    acc = {"bytes_written": 0, "client_bytes": 0, "kept": [], "total": 0,
           "rewritten": {}}
    prepare = getattr(mod, "prepare", None)
    for op in ops:
        if prepare is not None:
            prepare(state, op)
        if tracer is not None:
            before = store_state(state)
            groups.tag(f"op{op.index}")
            tracer.op, tracer.active = op.index, True
        t = clock()
        try:
            mod.run_op(state, op, clock)
        except Exception as e:                 # a failed op is a result
            op.error = f"{type(e).__name__}: {e}"[:300]
        wall += clock() - t
        if tracer is None:
            continue
        tracer.active = False
        op.spark = groups.counts(f"op{op.index}")
        groups.tag("between-ops")       # staging jobs belong to no op
        d = store_delta(before, store_state(state))
        acc["bytes_written"] += d["bytes_written"]
        if op.cls == "insert":
            acc["client_bytes"] += d["bytes_written"]
        elif op.cls == "merge":
            src = state["eng"].table(op.arg["table"])
            acc["client_bytes"] += sum(
                s.bytes for s in src.manifest.queryable_segments())
        if op.cls in REWRITE_CLASSES:
            acc["rewritten"].setdefault(op.cls, []).append(d["files_rewritten"])
        if op.cls == "point":
            from cdh_integrate_carbondata2_3_spark.plans.pruning import \
                parse_simple_condition
            t = state["eng"].table(point_table)
            acc["total"] = sum(len(v) for v in t.scan_files().values())
            kept = t.scan_files(parse_simple_condition(f"id = {op.arg}"))
            acc["kept"].append(sum(len(v) for v in kept.values()))
    done = sum(op.error is None for op in ops)
    acc["wall_s"] = wall
    acc["ops_per_s"] = done / wall if wall else 0.0
    return acc


def end_to_end(summary: dict, setup_s: float, ops_per_s: float) -> dict:
    p50s = [v["p50_s"] for v in summary.values()]
    vals = {"setup_s": (setup_s, "s"), "ops_per_s": (ops_per_s, "1/s"),
            "p50_geomean_s": (geomean(p50s) if p50s else 0.0, "s")}
    return {k: {"value": v, "unit": u} for k, (v, u) in vals.items()}


def per_layer(ops, tracer, acc, state, overhead, *, events, host) -> dict:
    def med_span(name):
        return median([s.end - s.start for s in tracer.of(name)])

    def by_cls(cls):
        return [op for op in ops if op.cls == cls and op.error is None]

    v: dict[str, float] = {n: 0.0 for n in per_layer_names()}
    for c in SQL_CLASSES:
        v[f"sql.call_s.{c}"] = median([o.call_s for o in by_cls(c)])
    for c in ALL_CLASSES:
        xs = by_cls(c)
        if not xs:
            continue
        v[f"spark.action_s.{c}"] = median([o.action_s for o in xs])
        for m in ("jobs", "stages", "tasks"):
            v[f"spark.{m}.{c}"] = sum(o.spark[m] for o in xs) / len(xs)
        if c in EVENT_CLASSES:
            for m in ("shuffle_bytes", "spill_bytes", "gc_s", "task_s"):
                v[f"spark.{m}.{c}"] = sum(
                    events.get(f"op{o.index}", {}).get(m, 0) for o in xs) / len(xs)
    loads, updates = tracer.of("catalog.manifest.load"), tracer.of("catalog.manifest.update")
    v["catalog.manifest.load_calls"] = len(loads)
    v["catalog.manifest.load_s"] = med_span("catalog.manifest.load")
    v["catalog.manifest.update_calls"] = len(updates)
    v["catalog.manifest.update_s"] = med_span("catalog.manifest.update")
    v["catalog.manifest.conflicts"] = sum(
        s.error == "ConcurrentModificationError" for s in updates)
    v["catalog.table.read_calls"] = len(tracer.of("catalog.table.read"))
    v["catalog.table.read_s"] = med_span("catalog.table.read")
    inserts = tracer.of("catalog.table.insert")
    v["catalog.table.insert_s"] = med_span("catalog.table.insert")
    v["catalog.table.write_job_s"] = median([
        (s.end - s.start) - sum(u.end - u.start for u in
                                tracer.descendants_of(s, "catalog.manifest.update"))
        for s in inserts])
    v["catalog.table.compact_s"] = med_span("catalog.table.compact")
    v["prune.files_total"] = acc["total"]
    v["prune.files_kept"] = (sum(acc["kept"]) / len(acc["kept"])
                             if acc["kept"] else 0.0)
    answers = tracer.of("mv.answer")
    v["mv.answer_s"] = med_span("mv.answer")
    v["mv.hit_frac"] = (sum(s.result is not None for s in answers) / len(answers)
                        if answers else 0.0)
    for name in ("operators.dml.update", "operators.dml.delete",
                 "operators.mor.delete"):
        v[f"{name}_s"] = med_span(name)
    v["operators.merge.execute_s"] = med_span("operators.merge.execute")
    for c in REWRITE_CLASSES:
        xs = acc["rewritten"].get(c, [])
        v[f"store.files_rewritten.{c}"] = sum(xs) / len(xs) if xs else 0.0
    st = store_state(state)
    v["store.segments"] = len({(k[0], k[1]) for k in st["queryable"]})
    v["store.files"] = len(st["queryable"])
    v["store.bytes"] = sum(st["queryable"].values())
    v["store.bytes_written"] = acc["bytes_written"]
    v["store.write_amp"] = (acc["bytes_written"] / acc["client_bytes"]
                            if acc["client_bytes"] else 0.0)
    v["operators.graph.pagerank.construct_s"] = med_span("operators.graph.pagerank")
    v["operators.graph.pagerank.action_s"] = median(
        [o.action_s for o in by_cls("graph")])
    v["operators.dedup.ngram_jaccard_s"] = med_span("operators.dedup.ngram_jaccard")
    v["operators.graph.cc_s"] = med_span("operators.graph.cc")
    v["host.calibration_s"] = host["calibration_s"]
    v["host.steal_frac"] = host["steal_frac"]
    v["trace.overhead_frac"] = overhead
    return {k: {"value": x, "unit": unit_of(k)} for k, x in v.items()}


def trace_sanity(tracer, workload: str) -> list[str]:
    from tracing import FIRES_ON
    bad = [f"wrapper {n} never fired on {workload}"
           for n, wl in FIRES_ON.items()
           if workload in wl and not tracer.of(n)]
    neg = [i for i, t in tracer.self_times().items() if t < -1e-6]
    if neg:
        bad.append(f"{len(neg)} spans with negative self time")
    return bad


# -------------------------------------------------------------------- main

def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full",
                    help="input size; 'tiny' is for the self-test")
    args = ap.parse_args(argv)

    # fails here, before any output, when the engine package is absent
    from cdh_integrate_carbondata2_3_spark.sql import Engine

    mod = importlib.import_module(args.workload)
    work = ROOT / ".perfbench_work" / f"{args.workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    os.environ["TMPDIR"] = str(work / "tmp")
    cpus = os.cpu_count() or 4

    cpu0 = cpu_times()
    t0 = clock()
    try:
        spark = start_spark(str(work), cpus, event_log=bool(args.trace))
        start_s = clock() - t0
        try:
            result, report, traced = run_workload(args, mod, spark, work,
                                                  Engine)
        finally:
            t1 = clock()
            stop_spark(spark)
        report["phases_s"].update(start=start_s, stop=clock() - t1)
        report["host"]["steal_frac"] = steal_frac(cpu0, cpu_times())
        if traced is not None:
            # task metrics are complete once the session has stopped
            from tracing import event_log_task_metrics
            events = event_log_task_metrics(str(work / "events"))
            result["metrics"] = per_layer(*traced, events=events,
                                          host=report["host"])
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            work.parent.rmdir()         # kept while another run uses it
        except OSError:
            pass
    print(json.dumps({"report": report}, default=str))
    print(json.dumps(result))
    return 0


def run_workload(args, mod, spark, work: Path, Engine):
    data = mod.generate(args.seed, args.size)
    groups = JobGroups(spark)
    mutates = mod.MUTATES
    # the JIT keeps speeding ops up over the first calls of each class
    warm = mod.op_sequence(args.seed + 1, mod.WARMUP_ROUNDS, data)

    # set-up SETUP_REPS times into fresh warehouses; report the median.
    # A workload whose statements mutate its tables warms up on the
    # first copy and traces on the second; read-only workloads warm up
    # on the copy they measure.
    phases = {}
    t_phase = clock()
    states, setup_times = [], []
    for r in range(SETUP_REPS):
        t = clock()
        states.append(mod.setup(Engine(spark, str(work / f"wh{r}")), data,
                                str(work / f"stage{r}")))
        setup_times.append(clock() - t)
        if r == 0 and mutates:
            run_pass(mod, states[0], warm)
    if not mutates:
        run_pass(mod, states[-1], warm)

    phases["setup_and_warmup"] = clock() - t_phase
    rounds = max(1, round(args.seconds / mod.ROUND_S))
    calibrate(spark)                 # untimed: the first one is cold
    calib = [calibrate(spark)]
    ops = mod.op_sequence(args.seed, rounds, data)
    acc = run_pass(mod, states[-1], ops)
    calib.append(calibrate(spark))

    passes = [(ops, states[-1])]
    if args.trace:
        from tracing import Tracer
        tracer = Tracer()
        tracer.install()
        t_ops = mod.op_sequence(args.seed, rounds, data)
        t_state = states[-2] if mutates else states[-1]
        try:
            t_acc = run_pass(mod, t_state, t_ops, tracer, groups,
                             point_table="fact")
        finally:
            tracer.uninstall()
        passes.append((t_ops, t_state))

    phases["measured_and_traced"] = clock() - t_phase - phases["setup_and_warmup"]
    failures: list[str] = []
    for p, st in passes:
        failures += mod.check(data, p, st)
    phases["checks"] = clock() - t_phase - sum(phases.values())
    errors = [f"op {op.index} ({op.cls}) raised {op.error}"
              for p, _ in passes for op in p if op.error]
    attempted = len(ops)
    failed = min(attempted, len(errors) + len(failures))
    summary = class_summary(ops)
    host = {"calibration_s": median(calib), "calibration_before_s": calib[0],
            "calibration_after_s": calib[1], "cpus": os.cpu_count()}
    e2e = end_to_end(summary, median(setup_times), acc["ops_per_s"])
    named = {}
    for name, cls in NAMED[args.workload].items():
        s = summary.get(cls, {"n": 0, "p50_s": 0.0, "p90_s": 0.0})
        named[name] = {"value": s["p90_s" if name.endswith("p90_s") else "p50_s"],
                       "unit": "s", "n": s["n"]}
    named["setup_s"] = {"value": median(setup_times), "unit": "s",
                        "n": SETUP_REPS}
    named["ops_per_s"] = {"value": acc["ops_per_s"], "unit": "1/s",
                          "n": sum(op.error is None for op in ops)}
    named["fail_frac"] = {"value": failed / attempted, "unit": "ratio",
                          "n": attempted}
    digest = sequence_digest(ops, data)
    report = {"workload": args.workload, "seed": args.seed,
              "size": args.size, "rounds": rounds, "ops": attempted,
              "sequence": digest, "setup_reps_s": setup_times,
              "classes": summary, "named": named, "end_to_end": e2e,
              "latencies_s": [[op.cls, op.latency_s] for op in ops],
              "host": host, "phases_s": phases,
              "failures": (errors + failures)[:20]}
    correct = not errors and not failures
    traced = None
    if args.trace:
        sanity = trace_sanity(tracer, args.workload)
        report["trace_sanity"] = sanity
        correct = correct and not sanity
        overhead = (1 - t_acc["ops_per_s"] / acc["ops_per_s"]
                    if acc["ops_per_s"] else 0.0)
        report["trace_overhead_frac"] = overhead
        traced = (t_ops, tracer, t_acc, t_state, overhead)
    result = {"correct": correct, "attempted": attempted, "failed": failed,
              "metrics": e2e}
    return result, report, traced


if __name__ == "__main__":
    sys.exit(main())
