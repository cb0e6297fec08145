"""Metric arithmetic for the benchmark: the tail rule, span self time, and
the end-to-end and per-layer metrics derived from one harness result."""
import json
import os
import statistics

EXEC = ["jobs", "stages", "tasks", "tasks_failed", "in_job_s", "driver_s",
        "task_cpu_s", "task_run_s", "task_wait_s", "gc_s", "input_bytes",
        "output_bytes", "shuffle_write_bytes", "shuffle_records", "spill_bytes",
        "result_bytes", "cpu_util"]
PLANNER = ["analysis_s", "optimization_s", "planning_s", "actions"]
TABLE_OPS = ["merge_small", "merge_large", "merge_delete", "delete_where",
             "update_where", "optimize", "checkpoint", "vacuum", "snapshot",
             "read_asof", "read_range", "changes", "row_count", "mv_refresh"]


def tail(samples):
    """The highest percentile with at least ten samples beyond it, but never
    below the 90th: with fewer than 100 samples the ten-beyond rule falls to
    or below the median (at 20 samples it is p50), so the nearest-rank p90
    is taken instead.

    Returns (value, percentile, n)."""
    xs = sorted(samples)
    n = len(xs)
    if n == 0:
        raise ValueError("tail of no samples")
    i = max(n - 11, (9 * n + 9) // 10 - 1)  # nearest rank: ceil(0.9 n)
    return xs[i], 100.0 * (i + 1) / n, n


def self_times(spans):
    """Self time per span: its duration minus the part of its interval its
    children cover. `spans` are (id, parent, name, start, end, ...) rows.
    Returns {id: self_seconds}."""
    kids = {}
    for s in spans:
        kids.setdefault(s[1], []).append((s[3], s[4]))
    out = {}
    for s in spans:
        start, end = s[3], s[4]
        covered, cur_s, cur_e = 0, None, None
        for a, b in sorted((max(a, start), min(b, end)) for a, b in kids.get(s[0], [])):
            if b <= a:
                continue
            if cur_e is None or a > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = a, b
            else:
                cur_e = max(cur_e, b)
        if cur_e is not None:
            covered += cur_e - cur_s
        out[s[0]] = (end - start - covered) / 1e9
    return out


def layer_of(span_name):
    """Spans are named `<layer>.<call>` after the repository's modules
    ("tables.merge_small"); "bench.*" spans are the benchmark's own."""
    return span_name.split(".", 1)[0] if "." in span_name else "bench"


def layer_self_times(spans):
    st = self_times(spans)
    layers = {}
    for s in spans:
        layer = layer_of(s[2])
        layers[layer] = layers.get(layer, 0.0) + st[s[0]]
    return layers


def _median(xs, default=0.0):
    xs = list(xs)
    return statistics.median(xs) if xs else default


def end_to_end(res, source_rows, staged_bytes):
    """The end-to-end metrics of one untraced run: set-up is the session
    start plus the first (cold) pass; the rest come from the timed passes."""
    passes = res["passes"][1:]
    ops = [o for p in passes for o in p["ops"]]
    acts = [o["s"] for o in ops if o["activity"]]
    writes = [o["s"] for o in ops if o["kind"] == "write"]
    reads = [o["s"] for o in ops if o["kind"] == "read"]
    wall = _median(p["wall_s"] for p in passes)
    denom = staged_bytes if staged_bytes else None
    m = {
        "setup_s": res["session_ready_s"] + res["passes"][0]["wall_s"],
        "wall_s": wall,
        "rows_per_s": source_rows / wall,
        "activity_p50_s": _median(acts),
        "activity_tail_s": tail(acts)[0],
        "commit_p50_s": _median(writes),
        "commit_tail_s": tail(writes)[0],
        "read_p50_s": _median(reads),
        "write_amp": _median(p["written_bytes"] / (denom or p["input_bytes"]) for p in passes),
        "space_amp": _median(p["root_bytes"] / p["live_bytes"] for p in passes),
        "heap_peak_mb": _median(p["heap_peak_mb"] for p in passes),
    }
    context = {
        "source_rows": source_rows, "passes": len(passes),
        "activity_samples": len(acts), "activity_tail_pct": tail(acts)[1],
        "commit_samples": len(writes), "commit_tail_pct": tail(writes)[1],
        "read_samples": len(reads),
    }
    return m, context


def _attr(op):
    a = op.get("attribution") or ""
    return json.loads(a) if a else {}


def log_census(root):
    """Commit, file and byte counts from a graft_table's log directory."""
    log = os.path.join(root, "_graft_log")
    out = {"commits": 0, "files_added": 0, "files_removed": 0, "log_bytes": 0,
           "dml_rows_added": {}}
    if not os.path.isdir(log):
        return out
    for f in sorted(os.listdir(log)):
        path = os.path.join(log, f)
        out["log_bytes"] += os.path.getsize(path)
        if not f.endswith(".json") or not f[:-5].isdigit():
            continue
        out["commits"] += 1
        rows = 0
        for line in open(path):
            if not line.strip():
                continue
            act = json.loads(line)
            if "add" in act:
                out["files_added"] += 1
                if act["add"].get("dataChange", True):
                    rows += act["add"].get("numRecords", 0)
            elif "remove" in act:
                out["files_removed"] += 1
        out["dml_rows_added"][int(f[:-5])] = rows
    return out


def per_layer(res, changed_rows):
    """Per-layer metrics of one traced run, read from its first timed pass
    (counts then do not depend on how many passes fitted in the run)."""
    p = res["passes"][1]
    c = p.get("census", {})
    cores = res["cpus"]
    wall = p["wall_s"]
    m = {f"exec.{k}": c.get(f"exec.{k}", 0.0) for k in EXEC}
    m["exec.in_job_s"] = p.get("in_job_s", 0.0)
    m["exec.driver_s"] = wall - m["exec.in_job_s"]
    m["exec.cpu_util"] = m["exec.task_cpu_s"] / (wall * cores)
    for k in PLANNER:
        m[f"planner.{k}"] = c.get(f"planner.{k}", 0.0)
    spans = [s for s in res.get("spans", []) if s[5] == p["id"]]

    def span_sum(name):
        return sum((s[4] - s[3]) / 1e9 for s in spans if s[2] == name)

    m["queries.build_s"] = span_sum("queries.build")
    m["pipeline.sink_write_s"] = span_sum("pipeline.sink_write")
    acts = [o for o in p["ops"] if o["kind"] == "activity"]
    m["pipeline.jobs_per_run"] = _median(o["census"].get("exec.jobs", 0.0) for o in acts)
    m["config.parse_s"] = sum((s[4] - s[3]) / 1e9 for s in res.get("spans", [])
                              if s[2] == "config.parse")

    def ops_of(kind):
        return [o for o in p["ops"] if o["name"] == f"tables.{kind}"]

    for k in TABLE_OPS:
        m[f"tables.{k}_s"] = _median(o["s"] for o in ops_of(k))

    def jobs(kind):
        return _median(o["census"].get("exec.jobs", 0.0) for o in ops_of(kind))

    m["tables.jobs_per_merge"] = jobs("merge_small")
    m["tables.jobs_per_delete"] = jobs("delete_where")
    m["tables.jobs_per_update"] = jobs("update_where")
    m["tables.merge_result_bytes"] = sum(o["census"].get("exec.result_bytes", 0.0)
                                         for k in ("merge_small", "merge_large")
                                         for o in ops_of(k))
    lc = log_census(p.get("root", ""))
    for k in ("commits", "files_added", "files_removed", "log_bytes"):
        m[f"tables.{k}"] = lc[k]
    dml = {o["version"] for o in p["ops"] if o["kind"] == "write" and "version" in o
           and o["name"] not in ("tables.seed", "tables.optimize")}
    added = sum(lc["dml_rows_added"].get(v, 0) for v in dml)
    m["tables.rows_rewritten_per_changed"] = added / changed_rows if changed_rows else 0.0
    prunes = [o["prune"] for o in ops_of("read_range") if o.get("prune")]
    m["tables.files_pruned_frac"] = _median(1 - k / n for k, n in prunes if n)
    m["tables.snapshot_files"] = _median(o["files"] for o in ops_of("snapshot"))
    for k in ("batches", "batch_s", "rows_in"):
        m[f"streaming.{k}"] = c.get(f"streaming.{k}", 0.0)
    attrs = [_attr(o) for o in acts]
    m["similarity.verify_s"] = sum(a.get(k, 0.0) for a in attrs
                                   for k in ("verify_force", "verify_encode"))
    m["similarity.cc_s"] = sum(a.get(k, 0.0) for a in attrs for k in
                               ("cc_round", "frugal_round", "edges_sym", "collapse_keys",
                                "expand"))
    m["similarity.cc_rounds"] = sum(
        a.get(k + "_n", 1 if k in a else 0) for a in attrs for k in ("cc_round", "frugal_round"))
    m["checkpoints.cached_bytes_peak"] = max([o.get("cached_bytes", 0) for o in acts] or [0])
    m["checkpoints.release_s"] = span_sum("core.release")
    u = res.get("untraced_wall_s")
    m["trace.overhead_frac"] = wall / u - 1 if u else 0.0
    return m
