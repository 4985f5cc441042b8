"""The benchmark's arithmetic: percentiles, interval unions, span self
times, and the reduction of the harness's raw observations into the
end-to-end and per-layer metrics. Pure functions; see test_metrics.py."""
import math


def percentile(values, p):
    """The p-th percentile (0 <= p <= 100) of `values` by linear
    interpolation between closest ranks (numpy's default), with the sample
    count: returns (value, n). None for an empty sample."""
    xs = sorted(values)
    if not xs:
        return None, 0
    k = (len(xs) - 1) * p / 100.0
    lo, hi = math.floor(k), math.ceil(k)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo), len(xs)


def median(values):
    return percentile(values, 50)[0]


def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(span, children):
    """A span's duration minus the part of its interval that its children
    cover (children are clipped to the span; overlaps count once)."""
    s, e = span
    clipped = [(max(s, cs), min(e, ce)) for cs, ce in children]
    return (e - s) - union_length(clipped)


def spans(raw):
    """Span tree of a traced run: query -> build / plan / execute -> Spark
    jobs -> stages. Streaming micro-batches hang under build (the replay
    runs inside the registry call), and a replay's jobs under the
    micro-batch they started in. Otherwise a job's parent is the phase that
    was open when it started. Times are epoch ms. Returns a list of dicts
    with id, parent, name, layer, start_ms, end_ms."""
    out = []
    phase_ids = {}
    for q in raw["queries"]:
        if not q["traced"]:
            continue
        qid = f"q:{q['tag']}"
        out.append(dict(id=qid, parent=None, name=q["name"], layer="query",
                        start_ms=q["start_ms"], end_ms=q["end_ms"]))
        bounds = [q["start_ms"], q["build_end_ms"], q["plan_end_ms"], q["end_ms"]]
        for i, ph in enumerate(["build", "plan", "execute"]):
            pid = f"{qid}/{ph}"
            phase_ids[(q["tag"], ph)] = pid
            out.append(dict(id=pid, parent=qid, name=ph, layer=ph,
                            start_ms=bounds[i], end_ms=bounds[i + 1]))
    batch_spans = []
    for b in raw.get("stream_progress", []):
        parent = phase_ids.get((b["tag"], "build"))
        if parent is None or "triggerExecution" not in b:
            continue
        batch_spans.append(dict(id=f"batch:{b['run_id']}/{b['batch']}", parent=parent,
                                name=f"micro-batch {b['batch']}", layer="micro_batch",
                                start_ms=b["start_ms"],
                                end_ms=b["start_ms"] + b["triggerExecution"]))
    out += batch_spans
    job_ids = {}
    for j in raw.get("jobs", []):
        parent = phase_ids.get((j.get("tag"), j.get("phase")))
        if parent is None or "end_ms" not in j:
            continue
        # a job a replay started inside a micro-batch hangs under that batch
        parent = next((b["id"] for b in batch_spans if b["parent"] == parent
                       and b["start_ms"] <= j["start_ms"] < b["end_ms"]), parent)
        jid = f"job:{j['job']}"
        job_ids[j["job"]] = jid
        out.append(dict(id=jid, parent=parent, name=f"job {j['job']}", layer="job",
                        start_ms=j["start_ms"], end_ms=j["end_ms"]))
    for st in raw.get("stages", []):
        parent = job_ids.get(st["job"])
        if parent is None or "start_ms" not in st or "end_ms" not in st:
            continue
        out.append(dict(id=f"stage:{st['stage']}.{st['attempt']}", parent=parent,
                        name=f"stage {st['stage']}", layer="stage",
                        start_ms=st["start_ms"], end_ms=st["end_ms"]))
    return out


def phase_gap(span_list):
    """The largest gap, as a share of query wall time, between a query span
    and the sum of its phase spans."""
    def length(s):
        return s["end_ms"] - s["start_ms"]
    return max((abs(sum(length(p) for p in span_list if p["parent"] == q["id"]) - length(q))
                / max(length(q), 1e-9) for q in span_list if q["layer"] == "query"), default=0.0)


def layer_self_times(span_list):
    """Summed self time in seconds of each layer's spans."""
    kids = {}
    for s in span_list:
        kids.setdefault(s["parent"], []).append((s["start_ms"], s["end_ms"]))
    out = {}
    for s in span_list:
        t = self_time((s["start_ms"], s["end_ms"]), kids.get(s["id"], []))
        out[s["layer"]] = out.get(s["layer"], 0.0) + t / 1000.0
    return out


def end_to_end(raw):
    """End-to-end metrics of an untraced run: per-pass total_s (median over
    passes), per-query p50 and p90 over every sample, setup_s (JVM start
    to the first timed query), peak_rss_mb. Values are (value, unit, n)."""
    by_pass = {}
    for q in raw["queries"]:
        by_pass.setdefault(q["pass"], []).append(q["wall_s"])
    walls = [q["wall_s"] for q in raw["queries"]]
    m = {"total_s": (median([sum(v) for v in by_pass.values()]), "s", len(by_pass))}
    p50, n = percentile(walls, 50)
    m["query_p50_s"] = (p50, "s", n)
    p90, n = percentile(walls, 90)
    m["query_p90_s"] = (p90, "s", n)
    m["setup_s"] = (raw["setup"]["setup_s"], "s", 1)
    m["peak_rss_mb"] = (raw["vm_hwm_kb"] / 1024.0, "MB", 1)
    return m


def per_layer(raw):
    """Per-layer metrics of a traced run: totals over the traced queries
    (each query of the workload is traced once per run, so a total is one
    pass's worth); ratios are taken of the totals. The codegen totals are
    the exception: Spark's codegen cache is JVM-wide, so a query's second
    run compiles little, and they are summed over each query's first run,
    traced or not. Values are (value, unit, n) with n the number of traced
    queries."""
    traced = [q for q in raw["queries"] if q["traced"]]
    first = {}
    for q in raw["queries"]:
        first.setdefault(q["name"], q)
    tags = {q["tag"] for q in traced}
    jobs = [j for j in raw.get("jobs", []) if j.get("tag") in tags and "end_ms" in j]
    job_ids = {j["job"] for j in jobs}
    stages = [s for s in raw.get("stages", []) if s["job"] in job_ids]
    batches = [b for b in raw.get("stream_progress", []) if b["tag"] in tags]
    actions = [a for a in raw.get("actions", []) if a["tag"] in tags]

    def qsum(key):
        return sum(q[key] for q in traced)

    def ssum(key):
        return sum(s[key] for s in stages)

    def bsum(key):
        return sum(b.get(key, 0) for b in batches)

    def last(key):  # state is cumulative: take each stream's last batch
        return sum({b["run_id"]: b.get(key, 0) for b in batches}.values())

    def catalyst(phase):
        key = f"{phase}_ms"
        return sum(q["catalyst_ms"].get(key, 0) for q in traced) + sum(a.get(key, 0) for a in actions)

    def ratio(a, b):
        return a / b if b else 0.0

    busy_s = sum(union_length([(j["start_ms"], j["end_ms"]) for j in jobs if j["tag"] == q["tag"]])
                 for q in traced) / 1000.0
    build_jobs = sum(1 for j in jobs if j["phase"] == "build")
    mb = 1024.0 * 1024.0
    m = {
        "tables.pin_s": (raw["setup"]["pin_s"], "s"),
        "tables.scan_rows": (ssum("input_rows"), "count"),
        "tables.scan_mb": (ssum("input_bytes") / mb, "MB"),
        "ops.build_s": (qsum("build_s"), "s"),
        "ops.build_jobs": (build_jobs, "count"),
        "ops.build_job_frac": (ratio(build_jobs, len(jobs)), "ratio"),
        "ops.persisted_rdds": (qsum("persisted_rdds"), "count"),
        "catalyst.plan_s": (qsum("plan_s"), "s"),
        "catalyst.analysis_ms": (catalyst("analysis"), "ms"),
        "catalyst.optimization_ms": (catalyst("optimization"), "ms"),
        "catalyst.planning_ms": (catalyst("planning"), "ms"),
        "catalyst.plan_nodes": (qsum("plan_nodes"), "count"),
        "catalyst.exchanges": (qsum("exchanges"), "count"),
        "codegen.compile_ms": (sum(q["codegen_compile_ms"] for q in first.values()), "ms"),
        "codegen.classes": (sum(q["codegen_classes"] for q in first.values()), "count"),
        "exec.jobs": (len(jobs), "count"),
        "exec.stages": (len(stages), "count"),
        "exec.tasks": (ssum("tasks"), "count"),
        "exec.driver_gap_s": (qsum("wall_s") - busy_s, "s"),
        "exec.task_s": (ssum("run_ms") / 1000.0, "s"),
        "exec.cpu_s": (ssum("cpu_ns") / 1e9, "s"),
        "exec.gc_s": (ssum("gc_ms") / 1000.0, "s"),
        "exec.core_util": (ratio(ssum("run_ms") / 1000.0, busy_s * raw["cpus"]), "ratio"),
        "exec.shuffle_read_mb": (ssum("shuffle_read_bytes") / mb, "MB"),
        "exec.shuffle_write_mb": (ssum("shuffle_write_bytes") / mb, "MB"),
        "exec.spill_mb": (ssum("spill_bytes") / mb, "MB"),
        "exec.output_mb": (ssum("output_bytes") / mb, "MB"),
        "exec.task_failures": (ratio(ssum("failed_tasks"), ssum("tasks")), "ratio"),
        "stream.batches": (len(batches), "count"),
        "stream.input_rows": (bsum("input_rows"), "count"),
        "stream.trigger_ms": (bsum("triggerExecution"), "ms"),
        "stream.add_batch_ms": (bsum("addBatch"), "ms"),
        "stream.wal_commit_ms": (bsum("walCommit"), "ms"),
        "stream.commit_offsets_ms": (bsum("commitOffsets"), "ms"),
        "stream.query_planning_ms": (bsum("queryPlanning"), "ms"),
        "stream.state_rows": (last("state_rows"), "count"),
        "stream.state_commit_ms": (bsum("state_commit_ms"), "ms"),
        "stream.state_mb": (last("state_bytes") / mb, "MB"),
        "peak_rss_mb": (raw["vm_hwm_kb"] / 1024.0, "MB"),
    }
    return {k: (v, unit, len(traced)) for k, (v, unit) in m.items()}
