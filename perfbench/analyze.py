"""Turn a run's raw report into metrics, layer shares and span trees.

Times in the report are epoch milliseconds: the harness's own marks at
nanosecond resolution, Spark's job and planning-phase times at
millisecond resolution. Every operation has four marks: t0 (call),
t_fn (the engine call returned a frame), t_act (the frame was
materialized) and t_end (caches released). Its span tree is

    op [t0, t_end]
      construct [t0, t_fn]            the engine call, eager jobs included
        plan.* (plans executed or analysed inside the call)
        job ...
      plan.analysis / plan.optimization / plan.planning   (the final plan)
      exec [end of final planning, t_act]
        job ...
      Caches.release [t_act, t_end]

and a span's self time is its duration minus the union of its
children. The layer shares partition each operation's wall time into
construct (self time plus eager jobs), plan (every planning phase),
exec (time the final action had a job running), gap (the rest of the
final action, Spark driver time with no job running), release, and the
remainder no span covers.
"""
import statistics
from collections import defaultdict

END_TO_END = {
    "setup_s": "s", "cold_pass_s": "s", "pass_s": "s", "op_p50_s": "s", "op_tail_s": "s",
    "retained_heap_mb": "MB", "rows_per_s": "1/s",
}
PER_LAYER = {
    "queries.construct_s": "s", "queries.construct_jobs": "count",
    "plan.analysis_s": "s", "plan.optimization_s": "s", "plan.planning_s": "s",
    "exec.s": "s", "exec.task_busy_s": "s", "exec.shuffle_write_bytes": "bytes",
    "exec.shuffle_read_bytes": "bytes", "exec.spill_bytes": "bytes", "exec.gc_s": "s",
    "exec.jobs": "count", "exec.stages": "count", "exec.stages_skipped": "count",
    "exec.tasks": "count", "exec.task_failures": "count", "exec.gap_s": "s",
    "exec.codegen_compile_s": "s", "exec.codegen_classes": "count",
    "sources.input_rows": "count", "sources.input_bytes": "bytes",
    "Caches.release_s": "s", "Caches.persisted_after": "count",
    "store.files": "count", "store.versions": "count", "store.bytes": "bytes",
    "store.compact_bytes_rewritten": "bytes",
}
STORES = ("AnnIndex", "DedupIndex", "LineStore", "Sketches")
VERBS = {"read": "read_s", "write": "write_s", "compact": "compact_s"}
# The metrics the final JSON line carries: the ones every workload has.
REPORTED = {"end_to_end": list(END_TO_END), "per_layer": list(PER_LAYER)}
PHASES = ("analysis", "optimization", "planning")


def tail(xs):
    """The highest percentile with at least ten samples above it (the
    maximum when there are fewer than eleven), its percentile, and n."""
    s = sorted(xs)
    n = len(s)
    i = max(n - 11, 0) if n > 10 else n - 1
    return s[i], 100.0 * (i + 1) / n, n


def union(spans):
    """Total length covered by (start, end) spans."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(x for x in spans if x[1] > x[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    return total + (cur_e - cur_s if cur_e is not None else 0.0)


def clip(span, lo, hi):
    return (max(span[0], lo), min(span[1], hi))


def latency(op):
    return (op["t_act"] - op["t0"]) / 1000.0


def warm(ops):
    return [o for o in ops if o["pass"] >= 1]


def by_pass(ops):
    out = defaultdict(list)
    for o in ops:
        out[o["pass"]].append(o)
    return out


def end_to_end(report, checks, stamps):
    ops = report["ops"]
    passes = by_pass(ops)
    pass_time = {p: sum(latency(o) for o in os_) for p, os_ in passes.items()}
    warm_times = [t for p, t in pass_time.items() if p >= 1]
    pass_s = statistics.median(warm_times)
    lats = [latency(o) for o in warm(ops)]
    t, pct, n = tail(lats)
    if report["workload"] == "store_rw":
        rows_per_pass = statistics.median(
            sum(o["rows"] for o in os_) for p, os_ in passes.items() if p >= 1)
    else:
        rows_per_pass = stamps["input_rows"]
    m = {
        "setup_s": {"value": report["setup_s"]},
        "cold_pass_s": {"value": pass_time[0]},
        "pass_s": {"value": pass_s, "passes": len(warm_times)},
        "op_p50_s": {"value": statistics.median(lats), "samples": len(lats)},
        "op_tail_s": {"value": t, "percentile": pct, "samples": n},
        "retained_heap_mb": {"value": max(report["heap_mb"])},
        "rows_per_s": {"value": rows_per_pass / pass_s, "rows_per_pass": rows_per_pass},
    }
    for k, u in END_TO_END.items():
        m[k]["unit"] = u
    if report["workload"] == "store_rw":
        for cls in ("read", "write"):
            xs = [latency(o) for o in warm(ops) if o["cls"] == cls]
            t, pct, n = tail(xs)
            m[f"{cls}_p50_s"] = {"value": statistics.median(xs), "samples": len(xs), "unit": "s"}
            m[f"{cls}_tail_s"] = {"value": t, "percentile": pct, "samples": n, "unit": "s"}
        stored = sum(s["bytes"] for s in report["extra"]["stores"].values())
        live = sum(c["live_bytes"] for c in checks if c["kind"] == "store")
        m["store_bytes_ratio"] = {"value": stored / live, "stored_bytes": stored,
                                  "live_input_bytes": live, "unit": "ratio"}
    return m


def op_layers(op, plans, jobs, stage_info, totals):
    """Span tree and layer accounting of one operation (milliseconds)."""
    t0, t_fn, t_act, t_end = op["t0"], op["t_fn"], op["t_act"], op["t_end"]
    nested, final = [], []
    if op["analysis"]:
        nested.append(("analysis", clip(op["analysis"], t0, t_fn)))
    for p in plans:
        ph = p["phases"]
        ref = ph.get("optimization", ph.get("planning", ph.get("analysis")))[0]
        for name in PHASES:
            if name in ph:
                if ref >= int(t_fn):
                    final.append((name, clip(ph[name], t_fn, t_act)))
                else:
                    nested.append((name, clip(ph[name], t0, t_fn)))
    eager = [j for j in jobs if j["start"] < t_fn]
    action = [j for j in jobs if j["start"] >= t_fn]
    exec_start = max([t_fn] + [s[1] for _, s in final])
    exec_span = (min(exec_start, t_act), t_act)
    job_span = lambda j, lo, hi: clip((j["start"], j["end"]), lo, hi)  # noqa: E731
    eager_spans = [job_span(j, t0, t_fn) for j in eager]
    action_spans = [job_span(j, *exec_span) for j in action]
    nested_plan = union([s for _, s in nested])
    construct_s = (t_fn - t0) - nested_plan
    lay = {
        "construct": construct_s,
        "plan": union([s for _, s in nested + final]),
        "exec": union(action_spans),
        "gap": (exec_span[1] - exec_span[0]) - union(action_spans),
        "release": t_end - t_act,
    }
    lay["remainder"] = (t_end - t0) - sum(lay.values())
    final_plan = union([s for _, s in final])
    # stage and task totals of the stages this operation submitted
    st = defaultdict(float)
    skipped = 0
    for j in jobs:
        ran = {sid for sid in j["stages"]
               if sid in stage_info and j["start"] <= stage_info[sid] <= j["end"]}
        skipped += len(j["stages"]) - len(ran)
    for sid in stage_info:
        st["stages"] += 1
        for k, v in totals.get(str(sid), {}).items():
            st[k] += v
    metrics = {
        "queries.construct_s": construct_s / 1000,
        "queries.construct_jobs": len(eager),
        "exec.s": union([job_span(j, t0, t_end) for j in jobs]) / 1000,
        "exec.task_busy_s": st["task_busy_ms"] / 1000,
        "exec.shuffle_write_bytes": st["shuffle_write_bytes"],
        "exec.shuffle_read_bytes": st["shuffle_read_bytes"],
        "exec.spill_bytes": st["spill_bytes"],
        "exec.gc_s": st["gc_ms"] / 1000,
        "exec.jobs": len(jobs),
        "exec.stages": st["stages"],
        "exec.stages_skipped": skipped,
        "exec.tasks": st["tasks"],
        "exec.task_failures": st["task_failures"],
        "exec.gap_s": lay["gap"] / 1000,
        "sources.input_rows": st["input_rows"],
        "sources.input_bytes": st["input_bytes"],
        "Caches.release_s": lay["release"] / 1000,
        "Caches.persisted_after": op["persisted_after"],
    }
    for name in PHASES:
        metrics[f"plan.{name}_s"] = union([s for n, s in nested + final if n == name]) / 1000
    if op["store"]:
        metrics["store.compact_bytes_rewritten"] = op["bytes_rewritten"]

    def node(name, span, children=()):
        kids = list(children)
        return {"span": name, "start_ms": round(span[0] - t0, 3),
                "dur_ms": round(span[1] - span[0], 3),
                "self_ms": round((span[1] - span[0]) - union(
                    [(k["start_ms"] + t0, k["start_ms"] + t0 + k["dur_ms"]) for k in kids]), 3),
                **({"children": kids} if kids else {})}
    jobs_of = lambda js, spans: [node(f"job {j['job']}", s) for j, s in zip(js, spans)]  # noqa
    tree = node(op["name"], (t0, t_end), [
        node("construct", (t0, t_fn),
             [node(f"plan.{n}", s) for n, s in nested] + jobs_of(eager, eager_spans)),
        *[node(f"plan.{n}", s) for n, s in final],
        node("exec", exec_span, jobs_of(action, action_spans)),
        node("Caches.release", (t_act, t_end)),
    ])
    tree["op_id"] = op["id"]
    return metrics, {k: v / 1000 for k, v in lay.items()}, final_plan / 1000, tree


def per_layer(report):
    td = report["trace_data"]
    ends = {j["job"]: j for j in td["job_ends"]}
    jobs = defaultdict(list)
    for j in td["jobs"]:
        end = ends.get(j["job"], {}).get("end", j["start"])
        jobs[j["op"]].append({"job": j["job"], "start": j["start"], "end": end,
                              "stages": j["stages"]})
    stages = defaultdict(dict)
    for s in td["stages"]:
        stages[s["op"]][s["stage"]] = s["submitted"]
    ops = report["ops"]
    plans = defaultdict(list)
    for p in td["plans"]:
        ph = p["phases"]
        if not ph:
            continue
        ref = ph.get("optimization", ph.get("planning", ph.get("analysis")))[0]
        owner = next((o for o in ops if o["t0"] - 1 <= ref <= o["t_end"] + 1), None)
        if owner is not None:
            plans[owner["id"]].append(p)

    pass_sums = defaultdict(lambda: defaultdict(float))
    shares = defaultdict(float)
    final_plan = 0.0
    trees = []
    last_pass = max(o["pass"] for o in ops)
    for o in ops:
        m, lay, fp, tree = op_layers(o, plans[o["id"]], jobs[o["id"]], stages[o["id"]],
                                     td["stage_totals"])
        for k, v in m.items():
            pass_sums[o["pass"]][k] += v
        if o["pass"] >= 1:
            final_plan += fp
            for k, v in lay.items():
                shares[k] += v
        if o["pass"] == last_pass:
            trees.append(tree)
    warm_passes = [p for p in pass_sums if p >= 1]
    keys = set(k for p in pass_sums.values() for k in p) | set(PER_LAYER)
    out = {}
    for k in sorted(keys):
        vals = [pass_sums[p].get(k, 0.0) for p in warm_passes]
        unit = PER_LAYER.get(k, "s")
        out[k] = {"value": statistics.median(vals), "unit": unit}
    # store verbs rotate over the passes, so a per-pass sum is often
    # zero: report each verb's median call latency over the later passes
    for store in STORES:
        for cls, verb in VERBS.items():
            xs = [latency(o) for o in warm(ops) if o["store"] == store and o["cls"] == cls]
            if xs:
                out[f"ops.{store}.{verb}"] = {"value": statistics.median(xs), "unit": "s",
                                             "calls": len(xs), "scope": "median call"}
    rewritten = [pass_sums[p].get("store.compact_bytes_rewritten", 0.0) for p in warm_passes]
    out["store.compact_bytes_rewritten"] = {"value": statistics.mean(rewritten),
                                            "unit": "bytes", "scope": "mean per pass"}
    cg = report["codegen"]
    cold = cg["passes"][0]
    out["exec.codegen_compile_s"] = {"value": (cold["ms"] - cg["start"]["ms"]) / 1000,
                                     "unit": "s", "scope": "set-up and cold pass"}
    out["exec.codegen_classes"] = {"value": cold["count"] - cg["start"]["count"],
                                   "unit": "count", "scope": "set-up and cold pass"}
    stores = report["extra"].get("stores", {})
    for k in ("files", "versions", "bytes"):
        out[f"store.{k}"] = {"value": sum(s[k] for s in stores.values()),
                             "unit": PER_LAYER[f"store.{k}"], "scope": "end of run",
                             "by_store": {n: s[k] for n, s in stores.items()}}
    total = sum(shares.values())
    layer_shares = {k: {"s": v, "share": v / total} for k, v in shares.items()}
    # the part of `plan` spent on each operation's final plan, as
    # opposed to plans run eagerly inside the engine call
    layer_shares["plan"]["final_plan_share"] = final_plan / total
    return out, layer_shares, trees


def result(report, checks, stamps):
    ops = report["ops"]
    failed_ops = [o for o in ops if o["error"]]
    failed_checks = [c for c in checks if not c["ok"]]
    attempted = len(ops) + len(checks)
    failed = len(failed_ops) + len(failed_checks)
    e2e = end_to_end(report, checks, stamps)
    e2e["failed_frac"] = {"value": failed / attempted, "unit": "ratio",
                          "failed": failed, "attempted": attempted}
    res = {
        "stamps": stamps, "correct": failed == 0, "attempted": attempted, "failed": failed,
        "end_to_end": e2e, "checks": checks, "setup": report["setup"],
        "errors": [{"op": o["id"], "error": o["error"]} for o in failed_ops],
        "pass_times_s": [sum(latency(o) for o in os_) for _, os_ in sorted(by_pass(ops).items())],
        "untimed_between_ops_s": sum(max(0.0, b["t0"] - a["t_end"])
                                     for a, b in zip(ops, ops[1:])) / 1000,
        "untimed_release_s": sum(o["t_end"] - o["t_act"] for o in ops) / 1000,
        "op_latency_s": {n: statistics.median(latency(o) for o in warm(ops) if o["name"] == n)
                         for n in sorted({o["name"] for o in warm(ops)})},
    }
    if report["trace"]:
        res["per_layer"], res["layer_shares"], res["span_trees"] = per_layer(report)
    return res
