"""Per-layer metrics from the harness's traced runs.

Layers are the `graft.component` modules whose public calls
`Component.run` makes; each traced run records one span per call (see
Harness.scala). Spark work is charged to the span whose job group was set
when the job started, so work a view defers until it is read is charged to
`export`, where it executes.
"""

from collections import defaultdict

from stats import barrier_idle, critical_path, duration, median, self_time

MB = 1024.0 * 1024.0

# per_layer metric name -> span name of the action call it times
ACTION_SPANS = {
    "actions.syntax_check_s": "actions.syntax_check",
    "actions.expected_input_tables_s": "actions.expected_input_tables",
    "actions.lineage_s": "actions.lineage_visualization",
    "actions.execution_plan_s": "actions.execution_plan_visualization",
}


def _spark(spans, key):
    return sum(s["spark"][key] for s in spans)


def run_layers(run, threads, n_inputs):
    """Per-layer values of one traced `Component.run`."""
    spans = run["spans"]
    kids = defaultdict(list)
    for s in spans:
        kids[s["parent"]].append(s)
    named = defaultdict(list)
    for s in spans:
        named[s["name"]].append(s)
    root = named["run"][0]
    planner = named["planner"][0]
    executor = named["executor"][0]
    ingest, export = named["ingest"], named["export"]
    batches = run["batches"]
    m = {}
    m["session.register_s"] = sum(duration(s) for s in named["session.register"])
    m["ingest.busy_s"] = sum(duration(s) for s in ingest)
    m["ingest.tables"] = n_inputs
    m["ingest.input_mb"] = run["input_bytes"] / MB
    m["ingest.jobs"] = _spark(ingest, "jobs")
    m["ingest.task_s"] = _spark(ingest, "task_s")
    m["dialect.busy_s"] = sum(duration(s) for s in named["dialect"])
    m["dialect.statements"] = sum(q["statements"] for b in batches for q in b)
    m["analyzer.busy_s"] = sum(duration(s) for s in named["analyzer"])
    m["planner.self_s"] = self_time(planner, kids[planner["id"]])
    m["planner.batches"] = len(batches)
    m["planner.max_width"] = max((len(b) for b in batches), default=0)
    busy = duration(executor)
    ex = [executor]
    m["executor.busy_s"] = busy
    m["executor.critical_path_s"] = critical_path(batches)
    m["executor.barrier_idle_s"] = barrier_idle(batches)
    for k in ("jobs", "stages", "tasks", "task_s"):
        m["executor." + k] = _spark(ex, k)
    m["executor.core_util"] = m["executor.task_s"] / (busy * threads) if busy > 0 else 0.0
    m["executor.shuffle_write_mb"] = _spark(ex, "shuffle_write_bytes") / MB
    m["executor.spill_mb"] = _spark(ex, "spill_bytes") / MB
    m["executor.write_mb"] = _spark(ex, "write_bytes") / MB
    warehouse_mb = run["warehouse_bytes"] / MB
    m["executor.write_amp"] = m["executor.write_mb"] / warehouse_mb if warehouse_mb > 0 else 0.0
    export_busy = sum(duration(s) for s in export)
    m["export.busy_s"] = export_busy
    m["export.rows"] = run["rows"]
    m["export.out_mb"] = run["out_bytes"] / MB
    for k in ("jobs", "tasks", "task_s"):
        m["export." + k] = _spark(export, k)
    m["export.core_util"] = (m["export.task_s"] / (export_busy * threads)
                             if export_busy > 0 else 0.0)
    m["spark.gc_s"] = run["gc_s"]
    m["trace.unattributed_s"] = self_time(root, kids[root["id"]])
    return m


def action_layers(round_):
    """Seconds spent in each `Actions.*` call of one traced action round."""
    by_name = {s["name"]: duration(s) for s in round_["spans"]}
    return {metric: by_name[span] for metric, span in ACTION_SPANS.items()}


def per_layer(result, threads, n_inputs, job_rss_mb):
    """Median over the traced runs and action rounds of every layer metric,
    plus session set-up, the tracing overhead and the job's peak RSS."""
    runs = [run_layers(r, threads, n_inputs) for r in result["traced"]]
    rounds = [action_layers(r) for r in result["traced_actions"]]
    out = {k: median([r[k] for r in runs]) for k in runs[0]}
    out.update({k: median([r[k] for r in rounds]) for k in rounds[0]})
    out["session.build_s"] = median([s["build_s"] for s in result["setup"]])
    out["trace.overhead_s"] = (median([r["wall_s"] for r in result["traced"]])
                               - median([r["wall_s"] for r in result["paired"]]))
    out["job.peak_rss_mb"] = job_rss_mb
    return out


def coverage_failures(result, max_share):
    """Traced runs whose time outside every layer span exceeds `max_share`
    of the run, or that started Spark jobs outside any span."""
    bad = []
    for i, r in enumerate(result["traced"]):
        spans = r["spans"]
        root = next(s for s in spans if s["name"] == "run")
        loose = self_time(root, [s for s in spans if s["parent"] == root["id"]])
        if loose > max_share * duration(root) or r["unattributed_jobs"] > 0:
            bad.append(i)
    return bad
