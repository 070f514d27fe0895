"""Per-layer metrics of a traced run, computed from its spans.

Every metric is printed on every workload; a layer a workload does not
exercise reads 0. Times and counts are per op over the traced ops (a
clone_db op applies one CDC epoch; per query execution for the
query-module layers).
"""

from __future__ import annotations

import statistics

QUERY_MODULES = [
    "catalog", "operators.relational", "operators.events", "operators.quality",
    "extensions.dedup", "extensions.text",
]
MODULE_FIELDS = [
    ("build_s", "s", "lower"), ("build_jobs", "count", "lower"), ("action_s", "s", "lower"),
    ("jobs", "count", "lower"), ("tasks", "count", "lower"),
    ("shuffle_bytes", "bytes", "lower"), ("spill_bytes", "bytes", "lower"),
]

# name -> (unit, better)
PER_LAYER = {
    "session.start_s": ("s", "lower"),
    "spark.core_util": ("frac", "higher"),
    "io.load_calls": ("count", "lower"),
    "io.load_s": ("s", "lower"),
    "io.scan_bytes": ("bytes", "lower"),
    "io.write_bytes": ("bytes", "lower"),
    "io.files_written": ("count", "lower"),
    "ddl.render_s": ("s", "lower"),
    "clone.database_s": ("s", "lower"),
    "clone.jobs_per_table": ("count", "lower"),
    "clone.tasks_per_table": ("count", "lower"),
    "clone.scan_bytes_per_source_byte": ("ratio", "lower"),
    "clone.table_s_max": ("s", "lower"),
    "clone.pool_wait_s": ("s", "lower"),
    "clone.validate_s": ("s", "lower"),
    "clone.validate_jobs": ("count", "lower"),
    **{f"{m}.{f}": (u, b) for m in QUERY_MODULES for f, u, b in MODULE_FIELDS},
    "cache.memo_calls": ("count", "lower"),
    "cache.hit_ratio": ("frac", "higher"),
    "cache.entries_peak": ("count", "lower"),
    "merge.upsert_s": ("s", "lower"),
    "merge.delete_s": ("s", "lower"),
    "merge.sync_s": ("s", "lower"),
    "merge.jobs_per_epoch": ("count", "lower"),
    "merge.touched_buckets_per_epoch": ("count", "lower"),
    "merge.files_written_per_epoch": ("count", "lower"),
    "merge.bytes_written_per_epoch": ("bytes", "lower"),
    "trace.uncovered_frac": ("frac", "lower"),
    "trace.op_p50_s": ("s", "lower"),
    "trace.untraced_op_p50_s": ("s", "lower"),
    "trace.overhead_frac": ("frac", "lower"),
}


def _dur(sp) -> float:
    return sp["end"] - sp["start"]


def _c(sp, key) -> float:
    return sp.get("counts", {}).get(key, 0)


def per_layer(traced, untraced, spans, ctx, session_start_s, entries_peak) -> dict:
    n = max(1, len(traced))
    named: dict[str, list[dict]] = {}
    for sp in spans:
        named.setdefault(sp["name"], []).append(sp)
    roots = [sp for sp in spans if sp["layer"] == "op"]
    m: dict[str, float] = dict.fromkeys(PER_LAYER, 0.0)

    m["session.start_s"] = session_start_s
    wall = sum(_dur(r) for r in roots)
    m["spark.core_util"] = sum(_c(r, "task_s") for r in roots) / (wall * ctx.cores) if wall else 0.0
    loads = named.get("io.load", [])
    m["io.load_calls"] = len(loads) / n
    m["io.load_s"] = sum(_dur(s) for s in loads) / n
    m["io.scan_bytes"] = sum(_c(r, "scan_bytes") for r in roots) / n
    m["io.write_bytes"] = sum(_c(r, "write_bytes") for r in roots) / n
    m["io.files_written"] = sum(o.get("files_written", 0) for o in traced) / n

    m["ddl.render_s"] = sum(_dur(s) for s in named.get("ddl.generate_statements", [])) / n
    clones = named.get("clone.database", [])
    if clones:
        tables = named.get("clone.table", [])
        n_tables = max(1, len(tables))
        m["clone.database_s"] = sum(_dur(s) for s in clones) / len(clones)
        m["clone.jobs_per_table"] = sum(_c(s, "jobs") for s in clones) / n_tables
        m["clone.tasks_per_table"] = sum(_c(s, "tasks") for s in clones) / n_tables
        m["clone.scan_bytes_per_source_byte"] = sum(_c(s, "scan_bytes") for s in clones) / sum(
            s["source_bytes"] for s in clones
        )
        by_op: dict = {}
        for t in tables:
            by_op.setdefault(t["op"], []).append(t)
        starts = {c["op"]: c["start"] for c in clones}
        m["clone.table_s_max"] = statistics.mean(max(_dur(t) for t in ts) for ts in by_op.values())
        m["clone.pool_wait_s"] = sum(t["start"] - starts[t["op"]] for t in tables) / len(clones)
        vals = named.get("clone.validate", [])
        m["clone.validate_s"] = sum(_dur(s) for s in vals) / len(clones)
        m["clone.validate_jobs"] = sum(_c(s, "jobs") for s in vals) / len(clones)

    for mod in QUERY_MODULES:
        builds = [s for s in spans if s["layer"] == mod and s.get("phase") == "build"]
        actions = [s for s in spans if s["layer"] == mod and s.get("phase") == "action"]
        if not builds:
            continue
        q = len(builds)
        both = builds + actions
        m[f"{mod}.build_s"] = sum(_dur(s) for s in builds) / q
        m[f"{mod}.build_jobs"] = sum(_c(s, "jobs") for s in builds) / q
        m[f"{mod}.action_s"] = sum(_dur(s) for s in actions) / q
        m[f"{mod}.jobs"] = sum(_c(s, "jobs") for s in both) / q
        m[f"{mod}.tasks"] = sum(_c(s, "tasks") for s in both) / q
        m[f"{mod}.shuffle_bytes"] = sum(_c(s, "shuffle_bytes") for s in both) / q
        m[f"{mod}.spill_bytes"] = sum(_c(s, "spill_bytes") for s in both) / q

    memo = named.get("cache.memo_df", [])
    m["cache.memo_calls"] = len(memo) / n
    if memo:
        m["cache.hit_ratio"] = 1.0 - sum(s.get("added", 0) for s in memo) / len(memo)
    m["cache.entries_peak"] = entries_peak

    if named.get("merge.upsert"):
        for step in ("upsert", "delete", "sync"):
            m[f"merge.{step}_s"] = sum(_dur(s) for s in named.get(f"merge.{step}", [])) / n
        merges = [s for s in spans if s["layer"] == "merge"]
        m["merge.jobs_per_epoch"] = sum(_c(s, "jobs") for s in merges) / n
        m["merge.touched_buckets_per_epoch"] = sum(s.get("touched_buckets", 0) for s in merges) / n
        m["merge.files_written_per_epoch"] = sum(o.get("cdc_files_written", 0) for o in traced) / n
        m["merge.bytes_written_per_epoch"] = sum(o.get("cdc_bytes_written", 0) for o in traced) / n

    from tracer import uncovered_frac

    m["trace.uncovered_frac"] = uncovered_frac(spans)
    t50 = statistics.median(o["wall"] for o in traced) if traced else 0.0
    u50 = statistics.median(o["wall"] for o in untraced) if untraced else 0.0
    m["trace.op_p50_s"], m["trace.untraced_op_p50_s"] = t50, u50
    m["trace.overhead_frac"] = t50 / u50 - 1.0 if u50 else 0.0
    return {k: {"value": float(v), "unit": PER_LAYER[k][0]} for k, v in m.items()}
