"""Per-layer metrics of a traced run, from its spans.

Layers are named after package modules. Times and counts are per traced
pass (summed over the traced passes, divided by their number); a layer
a workload never calls reads 0. A layer's time counts only its outermost
spans, so a function calling another of its own layer is not counted
twice; ``self_s`` is that time minus the time of child spans of other
layers.
"""

from __future__ import annotations

import statistics
from collections import defaultdict

from perfbench import tracing

SPAN_LAYERS = (
    ["session", "catalog", "sources", "suite", "exec", "plans"]
    + list(tracing.FUNCTION_LAYERS)
    + list(tracing.OPERATOR_LAYERS)
)


def _median(xs, default=0.0):
    xs = list(xs)
    return statistics.median(xs) if xs else default


class _Spans:
    def __init__(self, spans):
        self.spans = spans
        self.by_id = {s.id: s for s in spans}
        self.children = defaultdict(list)
        for s in spans:
            if s.parent is not None:
                self.children[s.parent].append(s)

    def layer(self, layer, prefix=""):
        return [s for s in self.spans if s.layer == layer and s.name.startswith(prefix)]

    def outermost(self, spans):
        """Spans with no ancestor of the same layer."""
        out = []
        for s in spans:
            p = self.by_id.get(s.parent)
            while p is not None and p.layer != s.layer:
                p = self.by_id.get(p.parent)
            if p is None:
                out.append(s)
        return out

    def subtree(self, spans):
        seen, todo = {}, list(spans)
        while todo:
            s = todo.pop()
            if s.id not in seen:
                seen[s.id] = s
                todo += self.children.get(s.id, ())
        return list(seen.values())

    @staticmethod
    def jobs(spans, key):
        return sum(s.stats.get(key, 0.0) for s in spans)


def per_layer(tracer, caches, passes, refresh_notes, jvm, record, session_s) -> dict:
    traced_passes = [p for p in passes if p["timed"] and p["traced"]]
    untraced_passes = [p for p in passes if p["timed"] and not p["traced"]]
    n = max(1, len(traced_passes))
    keep = {p["pass"] for p in traced_passes}
    sp = _Spans([s for s in tracer.spans if s.attrs.get("pass") in keep])
    m: dict[str, tuple[float, str]] = {}

    def put(name, value, unit):
        m[name] = (float(value), unit)

    put("session.start_s", session_s[0], "s")
    put("session.restart_s", _median(session_s[1:]), "s")

    for layer in SPAN_LAYERS:
        top = sp.outermost(sp.layer(layer))
        put(f"{layer}.self_s", sum(s.self_s for s in top) / n, "s")

    look = sp.layer("catalog")
    lookups = sum(s.stats.get("lookups", 0) for s in look)
    misses = sum(s.stats.get("misses", 0) for s in look)
    put("catalog.lookups", lookups / n, "count")
    put("catalog.misses", misses / n, "count")
    put("catalog.hit_ratio", 1 - misses / lookups if lookups else 0.0, "ratio")
    put("catalog.resolve_s",
        sum(s.dur for s in look if s.stats.get("misses")) / n, "s")

    reads = sp.layer("sources", "sources.read_files")
    put("sources.read_s", sum(s.dur for s in sp.outermost(reads)) / n, "s")
    put("sources.jobs", sp.jobs(reads, "jobs") / n, "count")
    notes = [r for r in refresh_notes if r["pass"] in keep]
    put("sources.rows", sum(r["batch_rows"] for r in notes) / n, "count")

    for layer in tracing.FUNCTION_LAYERS:
        spans = sp.layer(layer)
        put(f"{layer}.s", sum(s.dur for s in sp.outermost(spans)) / n, "s")
        put(f"{layer}.calls", len(spans) / n, "count")
    for layer in tracing.OPERATOR_LAYERS:
        spans = sp.layer(layer)
        put(f"{layer}.s", sum(s.dur for s in sp.outermost(spans)) / n, "s")
        put(f"{layer}.calls", len(spans) / n, "count")
        put(f"{layer}.jobs", sp.jobs(spans, "jobs") / n, "count")

    builds = sp.layer("suite", "suite.build.")
    tree = sp.subtree(builds)
    put("suite.build_s", sum(s.dur for s in builds) / n, "s")
    put("suite.build_jobs", sp.jobs(tree, "jobs") / n, "count")
    put("suite.build_tasks", sp.jobs(tree, "tasks") / n, "count")
    put("suite.build_run_s", sp.jobs(tree, "run_s") / n, "s")
    put("suite.cache_builds", sum(c.builds for c in caches.values()) / n, "count")
    put("suite.cache_hits", sum(c.hits for c in caches.values()) / n, "count")
    put("suite.cache_build_s", sum(c.build_s for c in caches.values()) / n, "s")

    plan = sp.layer("exec", "exec.plan.")
    run = sp.layer("exec", "exec.run.")
    etree = sp.subtree(plan + run)
    run_wall = sum(s.dur for s in run)
    put("exec.s", (run_wall + sum(s.dur for s in plan)) / n, "s")
    put("exec.plan_s", sum(s.dur for s in plan) / n, "s")
    for key, unit in (("jobs", "count"), ("stages", "count"), ("tasks", "count"),
                      ("failed_tasks", "count"), ("run_s", "s"), ("cpu_s", "s"),
                      ("shuffle_read_mb", "MB"), ("shuffle_write_mb", "MB"),
                      ("spill_mb", "MB")):
        put(f"exec.{key}", sp.jobs(etree, key) / n, unit)
    cores = int(record["settings"]["SPARK_GRAFT_CPUS"])
    put("exec.core_util",
        sp.jobs(etree, "run_s") / (run_wall * cores) if run_wall else 0.0, "ratio")

    ptree = sp.subtree(sp.layer("plans"))
    written = sp.jobs(sp.subtree(sp.layer("plans", "plans.refresh_gold_incremental")),
                      "output_mb")
    batch_mb = sum(r["batch_bytes"] for r in notes) / 2**20
    put("plans.refresh_s",
        sum(s.dur for s in sp.layer("plans", "plans.refresh_gold_incremental")) / n, "s")
    put("plans.save_s", sum(s.dur for s in sp.layer("plans", "plans.save_gold")) / n, "s")
    put("plans.jobs", sp.jobs(ptree, "jobs") / n, "count")
    put("plans.bytes_written_mb", written / n, "MB")
    put("plans.write_amp", written / batch_mb if batch_mb else 0.0, "ratio")
    put("plans.files", _median(r["files"] for r in notes), "count")

    put("jvm.gc_s", jvm["gc_s"], "s")
    put("jvm.heap_used_mb", jvm["heap_used_mb"], "MB")
    put("jvm.cpu_s", _median(p["jvm_cpu_s"] for p in traced_passes), "s")
    put("python.cpu_s", _median(p["python_cpu_s"] for p in traced_passes), "s")
    put("host.calib_s", (record["calib_s_start"] + record["calib_s_end"]) / 2, "s")

    traced_s = _median(p["wall_s"] for p in traced_passes)
    plain_s = _median(p["wall_s"] for p in untraced_passes)
    put("trace.pass_s", traced_s, "s")
    put("trace.untraced_pass_s", plain_s, "s")
    put("trace.overhead_frac", traced_s / plain_s - 1 if plain_s else 0.0, "ratio")
    return m
