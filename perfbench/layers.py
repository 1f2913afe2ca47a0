"""Turns the harness's raw records into the benchmark's metrics.

``report`` builds the end-to-end metrics (untraced runs), the per-layer
metrics (traced runs) and the run's detail record. Metric names are the
ones README.md lists; a layer a workload bypasses reads 0.
"""
import glob
import json
import os
import statistics

import timeline

EMNIST_STAGES = [
    ("EmnistFixture.df", "EmnistFixture.df_s", "EmnistFixture.df.jobs"),
    ("EmnistPipeline.scaler_fit", "EmnistPipeline.scaler_fit_s", "EmnistPipeline.scaler_fit.jobs"),
    ("FastPCA.fit", "FastPCA.fit_s", "FastPCA.fit.jobs"),
    ("EmnistPipeline.transform", "EmnistPipeline.transform_s", "EmnistPipeline.transform.jobs"),
    ("EmnistPipeline.nb_fit", "EmnistPipeline.nb_fit_s", "EmnistPipeline.nb_fit.jobs"),
    ("HistGbt.fit", "HistGbt.fit_s", "HistGbt.jobs"),
    ("EmnistPipeline.evaluate", "EmnistPipeline.evaluate_s", "EmnistPipeline.evaluate.jobs"),
    ("InversePca.transform", "InversePca.transform_s", "InversePca.transform.jobs"),
]
MODULES = ["Similarity", "Quality", "SpanDedup", "SuffixDedup", "Text",
           "Relational", "Joins", "Windows", "Streaming", "TimeSeries",
           "Mutations", "Layout", "Bucketing", "Sketches", "Skew"]
PHASES = ["build", "plan", "run"]
# from the listener's job and task records
ENGINE = ["sched.jobs", "sched.tasks", "sched.idle_s", "exec.busy_s", "exec.gc_s",
          "exchange.shuffle_write_mb", "exchange.spill_mb", "scan.input_mb",
          "collect.result_mb"]
# metric -> the harness's per-pass session-state field
STATE = {"BlockHygiene.swept": "swept", "retained_mb": "retained_mb",
         "jvm.heap_after_gc_mb": "heap_after_gc_mb", "tmp.leaked_mb": "tmp_leaked_mb"}
SELF_LAYERS = ["workload", "setup", "pass", "query", "build", "plan", "run", "sweep",
               "stage", "job"]
PASSES = ["cold", "warm"]

END_TO_END_UNITS = {"setup_s": "s", "cold_s": "s", "warm_s": "s"}


def per_layer_units() -> dict:
    """Every per-layer metric name -> unit, in report order."""
    u = {}
    for _, s, j in EMNIST_STAGES:
        u[s], u[j] = "s", "count"
    for p in PASSES:
        for ph in PHASES:
            u[f"query.{ph}_s.{p}"] = "s"
    for m in MODULES:
        for p in PASSES:
            u[f"{m}.{p}_s"] = "s"
    for name in ENGINE + list(STATE):
        for p in PASSES:
            unit = "s" if name.endswith("_s") else "MB" if name.endswith("_mb") else "count"
            u[f"{name}.{p}"] = unit
    for layer in SELF_LAYERS:
        u[f"self.{layer}_s"] = "s"
    u.update({"setup.session_s": "s", "setup.warmup_s": "s", "trace.cold_s": "s",
              "trace.overhead_s": "s", "trace.unattributed_jobs": "ratio",
              "fail_rate": "ratio"})
    return u


def med(xs):
    return statistics.median(xs) if xs else 0.0


def load_trace(out_dir: str) -> dict:
    """The traced run's spans, jobs (start and end merged) and tasks."""
    def lines(name):
        with open(os.path.join(out_dir, name)) as f:
            return [json.loads(x) for x in f if x.strip()]
    jobs = {}
    for r in lines("jobs.jsonl"):
        jobs.setdefault(r["id"], {}).update(r)
    for j in jobs.values():
        j.setdefault("end", j.get("start"))
    return {"spans": [s for s in lines("spans.jsonl") if s["end"] is not None],
            "jobs": [j for j in jobs.values() if "start" in j],
            "tasks": lines("tasks.jsonl")}


def _descendants(spans, root_id):
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out, stack = [], [root_id]
    while stack:
        for k in kids.get(stack.pop(), []):
            out.append(k)
            stack.append(k["id"])
    return out


def engine_metrics(pass_span, spans, jobs_by_span, tasks_by_job) -> dict:
    """Spark-engine counters of one pass, leaving out its check writes."""
    sub = _descendants(spans, pass_span["id"])
    checks = [s for s in sub if s["name"] == "check"]
    skip = {s["id"] for c in checks for s in [c] + _descendants(spans, c["id"])}
    jobs = [j for s in [pass_span] + sub if s["id"] not in skip for j in jobs_by_span.get(s["id"], [])]
    tasks = [t for j in jobs for t in tasks_by_job.get(j["id"], [])]
    idle = timeline.idle_seconds([(t["launch"], t["finish"]) for t in tasks],
                              pass_span["start"], pass_span["end"])
    return {
        "sched.jobs": len(jobs), "sched.tasks": len(tasks),
        "sched.idle_s": max(0.0, idle - sum(c["end"] - c["start"] for c in checks)),
        "exec.busy_s": sum(t["run_ms"] for t in tasks) / 1e3,
        "exec.gc_s": sum(t["gc_ms"] for t in tasks) / 1e3,
        "exchange.shuffle_write_mb": sum(t["shuffle_write_b"] for t in tasks) / 1e6,
        "exchange.spill_mb": sum(t["spill_b"] for t in tasks) / 1e6,
        "scan.input_mb": sum(t["input_b"] for t in tasks) / 1e6,
        "collect.result_mb": sum(t["result_b"] for t in tasks) / 1e6,
    }


def traced_metrics(wl: dict, res: dict, traced: dict, untraced: list) -> tuple:
    """(per-layer metrics, trace detail) of a traced run."""
    spans, n_unattr = timeline.attach_jobs(traced["spans"], traced["jobs"])
    job_spans = [s for s in spans if s["name"] == "job"]
    job_rec = {j["id"]: j for j in traced["jobs"]}
    jobs_by_span = {}
    for s in job_spans:
        jobs_by_span.setdefault(s["parent"], []).append(job_rec[s["job"]])
    tasks_by_job = {}
    for t in traced["tasks"]:
        tasks_by_job.setdefault(t["job"], []).append(t)
    m = {k: 0.0 for k in per_layer_units()}
    pass_spans = [s for s in spans if s["name"] in PASSES]
    by_kind = {p: [s for s in pass_spans if s["name"] == p] for p in PASSES}
    passes = res["passes"]
    for p in PASSES:
        eng = [engine_metrics(s, spans, jobs_by_span, tasks_by_job) for s in by_kind[p]]
        for name in ENGINE:
            m[f"{name}.{p}"] = med([e[name] for e in eng])
        rs = [x for x in passes if x["kind"] == p]
        for name, field in STATE.items():
            m[f"{name}.{p}"] = med([x[field] for x in rs])
        if wl["mode"] == "queries":
            module = dict(wl["queries"])
            for ph in PHASES:
                m[f"query.{ph}_s.{p}"] = med([sum(q.get(f"{ph}_s", 0.0) for q in x["queries"]) for x in rs])
            for mod in MODULES:
                m[f"{mod}.{p}_s"] = med([sum(q.get("build_s", 0) + q.get("plan_s", 0) + q.get("run_s", 0)
                                             for q in x["queries"] if module[q["name"]] == mod) for x in rs])
    if wl["mode"] == "emnist":
        cold_span = by_kind["cold"][0]
        for stage, s_name, j_name in EMNIST_STAGES:
            m[s_name] = passes[0]["stages"][stage]
            st = [s for s in _descendants(spans, cold_span["id"]) if s["name"] == f"stage:{stage}"]
            m[j_name] = sum(len(jobs_by_span.get(x["id"], [])) +
                            sum(len(jobs_by_span.get(d["id"], [])) for d in _descendants(spans, x["id"]))
                            for x in st)
    table = timeline.self_time_table(spans)
    for layer in SELF_LAYERS:
        m[f"self.{layer}_s"] = table.get(layer, 0.0)
    m["setup.session_s"] = res["session_s"]
    m["setup.warmup_s"] = res["setup_s"] - res["session_s"]
    m["trace.cold_s"] = passes[0]["wall_s"]
    m["trace.overhead_s"] = passes[0]["wall_s"] - med(untraced) if untraced else 0.0
    in_passes = [s for s in job_spans if any(p["start"] <= s["start"] <= p["end"] for p in pass_spans)]
    # (check writes carry their own job group, so they count as attributed)
    m["trace.unattributed_jobs"] = (sum(1 for s in in_passes if not s["by_group"]) / len(in_passes)
                                    if in_passes else 0.0)
    # every pass's wall time is the sum of its subtree's self times
    st = timeline.self_times(spans)
    accounted = [{"pass": s["name"], "wall_s": s["end"] - s["start"],
                  "self_sum_s": st[s["id"]] + sum(st[d["id"]] for d in _descendants(spans, s["id"]))}
                 for s in pass_spans]
    detail = {"self_time_s": table, "pass_accounting": accounted,
              "jobs_total": len(traced["jobs"]), "jobs_by_time_window": n_unattr,
              "untraced_cold_runs": len(untraced)}
    return m, detail


def untraced_cold(detail_dir: str, workload: str, stamp: str, seed: int) -> list:
    """cold_s of the untraced runs of this workload recorded for the same
    source state: those of the same seed when there are any, else all."""
    same_state = []
    for p in glob.glob(os.path.join(detail_dir, f"{workload}-seed*-trace0.json")):
        try:
            d = json.load(open(p))
            if d.get("stamp") == stamp:
                same_state.append((d["seed"], d["end_to_end"]["cold_s"]))
        except (OSError, ValueError, KeyError):
            pass
    same_seed = [c for s, c in same_state if s == seed]
    return same_seed or [c for _, c in same_state]


def report(workload: str, seed: int, stamp: str, wl: dict, res: dict, check: dict, traced,
           leaked_mb: float, detail_dir: str) -> dict:
    passes = res["passes"]
    cold, warms = passes[0], passes[1:]
    e2e = {"setup_s": res["setup_s"], "cold_s": cold["wall_s"],
           "warm_s": med([p["wall_s"] for p in warms])}
    if wl["mode"] == "queries":
        ops = [(p["kind"], q["name"], q["ok"], q.get("error")) for p in passes for q in p["queries"]]
    else:
        ops = []
        for p in passes:
            ops += [(p["kind"], st, True, None) for st in p["stages"] if st != p.get("failed_stage")]
            if "failed_stage" in p:
                ops.append((p["kind"], p["failed_stage"], False, p["error"]))
    # a pass the harness never finished (it threw) counts as one failure
    ops += [("warm", "pass not finished", False, "harness stopped")] * max(0, 2 - len(passes))
    failed_ops = [o for o in ops if not o[2]]
    failed_checks = {k: v for k, v in check.items() if v is not None}
    attempted = len(ops) + len(check)
    failed = len(failed_ops) + len(failed_checks)
    detail = {"workload": workload, "seed": seed, "stamp": stamp, "end_to_end": e2e, "session_s": res["session_s"],
              "passes": [{k: v for k, v in p.items() if k not in ("queries",)} for p in passes],
              "tmp_left_at_exit_mb": leaked_mb, "failed_operations": failed_ops,
              "failed_checks": failed_checks, "checks": check}
    if wl["mode"] == "queries":
        detail["per_query"] = {
            q: {"cold_s": _qtime(cold, q),
                "warm_s": med([_qtime(p, q) for p in warms]),
                "cold": _qrec(cold, q), "warm": [_qrec(p, q) for p in warms]}
            for q, _ in wl["queries"]}
    per_layer = None
    if traced is not None:
        per_layer, tdetail = traced_metrics(wl, res, traced,
                                            untraced_cold(detail_dir, workload, stamp, seed))
        per_layer["fail_rate"] = failed / attempted
        detail["trace"] = tdetail
        detail["per_layer"] = per_layer
    units = per_layer_units()
    return {
        "correct": failed == 0, "attempted": attempted, "failed": failed, "detail": detail,
        "end_to_end": {k: {"value": v, "unit": END_TO_END_UNITS[k]} for k, v in e2e.items()},
        "per_layer": {k: {"value": v, "unit": units[k]} for k, v in (per_layer or {}).items()},
    }


def _qrec(p: dict, name: str) -> dict:
    return next((q for q in p["queries"] if q["name"] == name), {})


def _qtime(p: dict, name: str) -> float:
    q = _qrec(p, name)
    return sum(q.get(f"{ph}_s", 0.0) for ph in PHASES)


def print_tables(rep: dict, out) -> None:
    d = rep["detail"]
    print(f"[{d['workload']}] " + "  ".join(f"{k}={v['value']:.3f}{v['unit']}"
                                          for k, v in rep["end_to_end"].items()), file=out)
    if "per_query" in d:
        print(f"{'query':28s} {'cold_s':>8s} {'warm_s':>8s}", file=out)
        for q, r in d["per_query"].items():
            print(f"{q:28s} {r['cold_s']:8.3f} {r['warm_s']:8.3f}", file=out)
    if "trace" in d:
        print("self time by layer (s):", file=out)
        for layer, v in sorted(d["trace"]["self_time_s"].items(), key=lambda x: -x[1]):
            print(f"  {layer:10s} {v:8.3f}", file=out)
    for k, v in d["failed_checks"].items():
        print(f"check failed: {k}: {v}", file=out)
    for o in d["failed_operations"]:
        print(f"operation failed: {o}", file=out)
