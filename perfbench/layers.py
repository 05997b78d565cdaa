"""Per-layer metrics from a traced run's spans.

The layers are the engine's modules. A Spark job is attributed to the module
of the graft function that `Pipeline.run` called for the step that ran it: a
connector (`sources`) for readers and writers, `operators` for Dedup, Graph
and the other operator steps, and so on. Stage call sites do not name that
function (AQE and broadcast jobs report a CompletableFuture frame), so a job
whose own call site holds no graft frame takes the call site of its SQL
execution, then that of the execution's root.

Wall time inside `Pipeline.run` when no job runs is `pipeline.driver_s`:
planning, analysis, codegen and driver-side collects. The union of the
intervals of jobs attributed to a layer plus driver time should equal the
execution's wall time; the detail record carries the largest deviation, which
is the time of jobs no layer claimed.
"""
import json
import statistics

LAYERS = ("sources", "operators", "functions", "plans", "queries", "pipeline", "other")


def frame_names(callsite):
    return [line.strip().split("(")[0] for line in (callsite or "").splitlines() if line.strip()]


def attribution(callsite):
    """(layer, function) for a call site, or None if it names no graft frame."""
    names = frame_names(callsite)
    k = next((i for i, n in enumerate(names) if n.startswith("graft.pipeline.Pipeline")), len(names))
    inner = [n for n in names[:k] if n.startswith("graft.") and not n.startswith("graft.pipeline.")]
    if inner:
        fn = inner[-1]  # the frame Pipeline.run called
    elif k < len(names):
        return "pipeline", names[k]
    else:
        fn = next((n for n in names if n.startswith("graft.")), None)
        if fn is None:
            return None
    layer = fn.split(".")[1]
    return (layer if layer in LAYERS else "other"), fn


def union_ms(intervals):
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def med(xs):
    return statistics.median(xs) if xs else 0.0


def analyse(spans_path, jr, props, width):
    spans = [json.loads(line) for line in open(spans_path)]
    execs = [s for s in spans if s["k"] == "exec" and s["ok"]]
    sqls, jobs, stages, tasks = {}, {}, {}, []
    for s in spans:
        k = s["k"]
        if k == "sql_start":
            sqls[s["id"]] = s
        elif k == "job_start":
            jobs[s["id"]] = dict(s, end=None)
        elif k == "job_end" and s["id"] in jobs:
            jobs[s["id"]]["end"] = s["t"]
        elif k == "stage":
            stages[s["id"]] = s
        elif k == "task":
            tasks.append(s)
    # a stage runs in the first job that lists it; later jobs skip it
    stage_job = {}
    for jid in sorted(jobs):
        for st in jobs[jid]["stages"]:
            stage_job.setdefault(st, jid)

    def job_attr(j):
        a = attribution(j["callsite"])
        sql = sqls.get(j["sql"]) if j["sql"] is not None else None
        if a is None and sql is not None:
            a = attribution(sql["callsite"]) or attribution(sqls.get(sql["root"], {}).get("callsite"))
        return a or ("other", None)

    attr = {jid: job_attr(j) for jid, j in jobs.items()}
    tasks_by_job = {}
    for t in tasks:
        tasks_by_job.setdefault(stage_job.get(t["stage"]), []).append(t)
    gc_by_index = {e["index"]: e["gc_s"] for e in jr["executions"]}

    per_exec, identity_err, shares = [], 0.0, {}
    for e in execs:
        lo, hi = e["start"], e["end"]
        wall = hi - lo
        ejobs = [j for j in jobs.values() if j["end"] is not None and lo <= j["t"] <= hi]
        clip = {j["id"]: (max(j["t"], lo), min(j["end"], hi)) for j in ejobs}
        all_union = union_ms(clip.values())
        driver = wall - all_union
        by_layer = {}
        for j in ejobs:
            by_layer.setdefault(attr[j["id"]][0], []).append(j)
        attributed = union_ms([clip[j["id"]] for j in ejobs if attr[j["id"]][0] != "other"])
        identity_err = max(identity_err, abs(attributed + driver - wall))
        for layer, js in by_layer.items():
            shares[layer] = shares.get(layer, 0) + union_ms([clip[j["id"]] for j in js])
        shares["pipeline.driver"] = shares.get("pipeline.driver", 0) + driver

        def layer_tasks(layer):
            return [t for j in by_layer.get(layer, []) for t in tasks_by_job.get(j["id"], [])]

        etasks = [t for j in ejobs for t in tasks_by_job.get(j["id"], [])]
        estages = {t["stage"] for t in etasks}
        src_t, op_t = layer_tasks("sources"), layer_tasks("operators")
        scan_t = [t for t in etasks if stages.get(t["stage"], {}).get("scan")]
        op_stage_tasks = {}
        for t in op_t:
            op_stage_tasks.setdefault(t["stage"], []).append(t["finish"] - t["launch"])
        skew = [max(d) / max(1, statistics.median(d)) for d in op_stage_tasks.values() if len(d) > 1]
        # the loop step: the operator step that ran the most jobs
        steps = {}
        for j in by_layer.get("operators", []):
            steps.setdefault(attr[j["id"]][1], []).append(j["end"] - j["t"])
        loop = max(steps.values(), key=len) if steps else []
        task_s = sum(t["run_ms"] for t in etasks) / 1e3
        per_exec.append({
            "pipeline.driver_s": driver / 1e3,
            "pipeline.jobs": len(ejobs),
            "pipeline.sql_executions": sum(1 for q in sqls.values() if lo <= q["t"] <= hi),
            "sources.job_s": union_ms([clip[j["id"]] for j in by_layer.get("sources", [])]) / 1e3,
            "sources.task_s": sum(t["run_ms"] for t in src_t) / 1e3,
            "sources.records_read": sum(t["in_rec"] for t in scan_t),
            "sources.bytes_read": sum(t["in_bytes"] for t in scan_t),
            "sources.records_written": sum(t["out_rec"] for t in etasks),
            "sources.bytes_written": sum(t["out_bytes"] for t in etasks),
            "operators.job_s": union_ms([clip[j["id"]] for j in by_layer.get("operators", [])]) / 1e3,
            "operators.task_s": sum(t["run_ms"] for t in op_t) / 1e3,
            "operators.jobs": len(by_layer.get("operators", [])),
            "operators.shuffle_read_bytes": sum(t["sh_read"] for t in op_t),
            "operators.shuffle_write_bytes": sum(t["sh_write"] for t in op_t),
            "operators.spill_bytes": sum(t["spill"] for t in op_t),
            "operators.peak_exec_mem_bytes": max((t["peak"] for t in op_t), default=0),
            "operators.task_skew": max(skew, default=0.0),
            "operators.sweeps": len(loop),
            "operators.sweep_s": med(loop) / 1e3,
            "spark.stages": len(estages),
            "spark.tasks": len(etasks),
            "spark.task_s": task_s,
            "spark.busy_share": task_s / (wall / 1e3 * width) if wall else 0.0,
            "jvm.gc_s": gc_by_index.get(e["index"], 0.0),
        })

    units = {"_s": "s", "_bytes": "bytes", "jobs": "count", "executions": "count",
             "records_read": "count", "records_written": "count", "stages": "count",
             "tasks": "count", "sweeps": "count", "bytes_read": "bytes",
             "bytes_written": "bytes", "_share": "ratio", "_skew": "ratio"}

    def unit(name):
        return next(u for suffix, u in units.items() if name.endswith(suffix))

    first = jr["executions"][0]
    metrics = {
        "session.create_s": (jr["session_create_s"], "s"),
        "session.register_s": (jr["session_register_s"], "s"),
        "pipeline.parse_s": (first["parse_s"] if first["ok"] else 0.0, "s"),
        "functions.compile_s": (jr["compile_s"], "s"),
    }
    for name in per_exec[0] if per_exec else []:
        metrics[name] = (med([p[name] for p in per_exec]), unit(name))
    metrics["sources.read_amplification"] = (
        metrics["sources.records_read"][0] / props["rows"] if per_exec else 0.0, "ratio")

    traced = [x["wall_s"] for x in jr["executions"]
              if x["phase"] == "timed" and x["traced"] and x["ok"]]
    untraced = [x["wall_s"] for x in jr["executions"]
                if x["phase"] == "timed" and not x["traced"] and x["ok"]]
    total = sum(shares.values()) or 1
    detail = {
        "traced_executions": len(per_exec),
        "overhead_ratio": (med(traced) / med(untraced) - 1) if traced and untraced else None,
        "identity_max_err_ms": identity_err,
        "time_share": {k: v / total for k, v in sorted(shares.items())},
        "per_execution": per_exec,
        "warm_parse_s": med([x["parse_s"] for x in jr["executions"][1:] if x["ok"]]),
    }
    return {"metrics": metrics, "detail": detail}
