"""Per-layer metrics of a traced run, and the per-operation-type spans.

Every timed operation is one span tree: op -> build (the call into
graft.api / graft.queries / VersionedTable / GraftSql / Sinks that makes
the DataFrame or runs the verb) -> plan (Catalyst's analysis,
optimization and planning phases, from the returned DataFrame's
queryExecution.tracker) -> exec (the action) -> job (Spark jobs, tagged
with the operation and phase that launched them). A layer's self time is
its span minus what its child spans cover. Metrics are means per
operation unless the name says otherwise; a metric a workload never
exercises reads 0.
"""
import statistics

import gen

VT_VERBS = ["merge", "update", "delete", "insert", "optimize", "expire",
            "vacuum", "append"]
VT_READS = ["point", "range", "asof", "agg"]
PHASES = ["analysis", "optimization", "planning"]

NAMES = (["api.build_ms", "api.build_jobs", "api.fixpoint_rounds"]
         + [f"plan.{p}_ms" for p in PHASES]
         + ["exec.wall_ms", "exec.jobs", "exec.stages", "exec.tasks",
            "exec.task_cpu_ms", "exec.parallel_eff", "exec.shuffle_read_bytes",
            "exec.shuffle_write_bytes", "exec.spill_bytes", "exec.task_skew"]
         + [f"vt.verb_ms.{v}" for v in VT_VERBS]
         + [f"vt.jobs.{v}" for v in VT_VERBS]
         + [f"vt.meta_jobs.{v}" for v in VT_VERBS]
         + [f"vt.files_touched.{r}" for r in VT_READS]
         + ["vt.files_total", "vt.bytes_written_per_row_changed",
            "vt.manifest_bytes", "sinks.write_ms", "sinks.files_written",
            "sinks.bytes_written", "jvm.gc_ms", "jvm.gc_count",
            "trace.throughput_ops_s"])

def unit(name):
    if name in ("exec.parallel_eff", "exec.task_skew"):
        return "ratio"
    if name == "vt.bytes_written_per_row_changed":
        return "bytes/row"
    if name == "trace.throughput_ops_s":
        return "ops/s"
    if name.endswith("_ms") or name.startswith("vt.verb_ms."):
        return "ms"
    if "bytes" in name:
        return "bytes"
    return "count"


def mean(xs):
    xs = list(xs)
    return statistics.fmean(xs) if xs else 0.0


def verb_of(o):
    return "append" if o["name"] == "append_cleaned" else o["name"]


def lake_rows_changed(res, seed, size):
    """Rows each timed write changed, from the reference model."""
    base, stream = gen.lake_stream(seed, size, res["rounds"] + 1)
    model = gen.LakeModel(base)
    total = 0
    for r, ops in enumerate(stream):
        for op in ops:
            if op["op"] in ("merge", "insert"):
                n = len(op["rows"])
            elif op["op"] == "update":
                n = sum(len(model.members.get((op["cat"], d), ()))
                        for d in range(op["lo"], op["hi"] + 1))
            elif op["op"] == "delete":
                n = len(model.members.get((op["cat"], op["day"]), ()))
            else:
                n = 0
            if r > 0:
                total += n
            if op["op"] in gen.LAKE_WRITES:
                model.apply(op)
    return total


def self_times(o):
    ph = sum(e - s for s, e in o["phases"].values())
    return {o["layer"]: o["build_self_ms"], "plan": ph,
            "exec_driver": o["exec_self_ms"], "jobs": o["job_ms"]}


def per_layer(workload, res, ok_ops, cores, seed, size):
    ops = [o for o in res["ops"] if o["ok"]]
    m = dict.fromkeys(NAMES, 0.0)
    api = [o for o in ops if o["layer"] == "api"]
    m["api.build_ms"] = mean(o["build_self_ms"] for o in api)
    m["api.build_jobs"] = mean(o["build_jobs"] for o in api)
    m["api.fixpoint_rounds"] = mean(o["extra"]["fixpoint_rounds"]
                                    for o in ops
                                    if "fixpoint_rounds" in o["extra"])
    planned = [o for o in ops if o["phases"]]
    for p in PHASES:
        m[f"plan.{p}_ms"] = mean(o["phases"][p][1] - o["phases"][p][0]
                                 for o in planned if p in o["phases"])
    m["exec.wall_ms"] = mean(o["exec_ms"] for o in ops)
    for k in ("jobs", "stages", "tasks", "task_cpu_ms", "shuffle_read_bytes",
              "shuffle_write_bytes", "spill_bytes"):
        m[f"exec.{k}"] = mean(o[k] for o in ops)
    wall = sum(o["ms"] for o in ops)
    m["exec.parallel_eff"] = (sum(o["task_cpu_ms"] for o in ops)
                              / (wall * cores) if wall else 0.0)
    skews = [s for o in ops for s in o["skews"]]
    m["exec.task_skew"] = statistics.median(skews) if skews else 0.0
    vt = [o for o in ops if o["layer"] == "vt"]
    for v in VT_VERBS:
        xs = [o for o in vt if verb_of(o) == v]
        m[f"vt.verb_ms.{v}"] = mean(o["ms"] for o in xs)
        m[f"vt.jobs.{v}"] = mean(o["jobs"] for o in xs)
        m[f"vt.meta_jobs.{v}"] = mean(o["meta_jobs"] for o in xs)
    for r in VT_READS:
        m[f"vt.files_touched.{r}"] = mean(
            o["extra"]["files_touched"] for o in vt if o["name"] == r)
    m["vt.files_total"] = mean(o["extra"]["files_total"] for o in vt
                               if "files_total" in o["extra"])
    written = sum(o["extra"].get("bytes_written", 0) for o in vt)
    if workload == "lakehouse_churn":
        changed = lake_rows_changed(res, seed, size)
    else:
        changed = sum(o["extra"].get("rows_changed", 0) for o in vt)
    m["vt.bytes_written_per_row_changed"] = written / changed if changed else 0.0
    m["vt.manifest_bytes"] = res["space"]["manifest_bytes"]
    sink = [o for o in ops if o["layer"] == "sinks" and o["kind"] == "write"]
    m["sinks.write_ms"] = mean(o["ms"] for o in sink)
    m["sinks.files_written"] = mean(o["extra"]["files_written"] for o in sink)
    m["sinks.bytes_written"] = mean(o["extra"]["bytes_written"] for o in sink)
    m["jvm.gc_ms"] = res["gc_ms"] / max(1, len(res["ops"]))
    m["jvm.gc_count"] = res["gc_count"] / max(1, len(res["ops"]))
    m["trace.throughput_ops_s"] = ok_ops / res["timed_s"]
    metrics = {k: {"value": float(v), "unit": unit(k)} for k, v in m.items()}

    spans = {}
    for o in ops:
        spans.setdefault(o["name"], []).append(o)
    by_type = {}
    for name, xs in spans.items():
        med = lambda f: statistics.median(f(o) for o in xs)  # noqa: E731
        by_type[name] = {
            "n": len(xs), "layer": xs[0]["layer"], "ms": med(lambda o: o["ms"]),
            "self_ms": {k: med(lambda o, k=k: self_times(o)[k])
                        for k in self_times(xs[0])},
            "jobs": med(lambda o: o["jobs"]),
            "build_jobs": med(lambda o: o["build_jobs"]),
            "meta_jobs": med(lambda o: o["meta_jobs"]),
            "stages": med(lambda o: o["stages"]),
            "tasks": med(lambda o: o["tasks"]),
            "task_cpu_ms": med(lambda o: o["task_cpu_ms"]),
            "example": {k: xs[-1][k] for k in
                        ("t0", "tb", "t1", "phases", "job_spans")},
        }
    return metrics, by_type
