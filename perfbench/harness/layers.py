"""Per-layer metrics of a traced run, computed from its spans.

Layers are named after the engine's modules: `core` (Spark scheduling,
from the SparkListener's job spans), `streaming` (micro-batch progress),
`serving` (ServingTable and HttpApi), `operators` (LexicalIndex),
`battery` (SparkEntry rows), and the benchmark's own generator and JVM.
Every workload reports every metric; a layer the workload bypasses reads
0, which is the prediction for it.
"""
import json

from . import stats

BATTERY_ROWS = ("q99_pagerank",)
BATTERY_FIELDS = ("build_ms", "build_jobs", "build_self_ms", "exec_ms",
                  "exec_jobs", "build_share")
STREAM_PHASES = {"trigger_ms": None, "add_batch_ms": "addBatch",
                 "get_batch_ms": "getBatch", "query_planning_ms": "queryPlanning",
                 "wal_commit_ms": "walCommit", "commit_offsets_ms": "commitOffsets"}

UNITS = {
    "core.jobs": "count", "core.tasks_per_job": "count", "core.job_wall_ms": "ms",
    "core.exec_run_ms": "ms", "core.exec_cpu_ms": "ms", "core.util": "1",
    "core.shuffle_read_bytes": "B", "core.shuffle_write_bytes": "B",
    "core.spill_bytes": "B",
    **{f"streaming.{k}": "ms" for k in STREAM_PHASES},
    "streaming.rows_per_batch": "count", "streaming.state_rows": "count",
    "streaming.state_mem_bytes": "B",
    "serving.upsert_self_ms": "ms", "serving.get_us": "us", "serving.prefix_us": "us",
    "serving.http_self_us": "us", "serving.fanout_ms": "ms", "serving.redirects": "count",
    "serving.threads_peak": "count", "serving.non2xx": "count",
    "operators.bm25_indexed_ms": "ms", "operators.jobs_per_query": "count",
    "operators.index_build_s": "s",
    **{f"battery.{r}.{f}": ("count" if f.endswith("jobs") else "1" if f == "build_share" else "ms")
       for r in BATTERY_ROWS for f in BATTERY_FIELDS},
    "bench.gen_late_ms_p99": "ms", "bench.sent": "count", "bench.ok": "count",
    "bench.failed": "count", "jvm.gc_ms": "ms", "jvm.heap_used_mb": "MB",
    "jvm.rss_peak_mb": "MB",
}


def load_spans(path):
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def _mean(xs):
    return sum(xs) / len(xs) if xs else 0.0


def _p99(xs):
    s = sorted(xs)
    return s[min(len(s) - 1, int(0.99 * len(s)))] if s else 0.0


def parent_jobs(spans):
    """Attach every job span to its parent: micro-batch jobs by the query
    id and batch id Spark stamps on them, the rest by time overlap with
    the benchmark's own spans. Returns {parent span id: [job spans]}."""
    jobs = [s for s in spans if s["name"] == "core.job"]
    batches = {(s["query_id"], s["batch_id"]): s["id"] for s in spans
               if s["name"] == "streaming.batch"}
    out = {}
    rest = []
    for j in jobs:
        key = (j.get("query_id"), j.get("batch_id"))
        if key in batches:
            j["parent"] = batches[key]
            out.setdefault(batches[key], []).append(j)
        else:
            rest.append(j)
    cands = [s for s in spans if s["name"] in (
        "battery.build", "battery.exec", "operators.index_build",
        "operators.bm25_indexed", "serving.http")]
    for jid, pid in stats.attach_jobs(rest, cands).items():
        j = next(x for x in rest if x["id"] == jid)
        j["parent"] = pid
        out.setdefault(pid, []).append(j)
    return out


def _core(jobs, units, window_ms, cpus):
    n = max(units, 1)
    return {
        "core.jobs": len(jobs) / n,
        "core.tasks_per_job": _mean([j["tasks"] for j in jobs]),
        "core.job_wall_ms": _mean([j["end"] - j["start"] for j in jobs]),
        "core.exec_run_ms": sum(j["run_ms"] for j in jobs) / n,
        "core.exec_cpu_ms": sum(j["cpu_ms"] for j in jobs) / n,
        "core.util": (sum(j["run_ms"] for j in jobs) / (window_ms * cpus)) if window_ms > 0 else 0.0,
        "core.shuffle_read_bytes": sum(j["shuffle_read"] for j in jobs) / n,
        "core.shuffle_write_bytes": sum(j["shuffle_write"] for j in jobs) / n,
        "core.spill_bytes": sum(j["spill"] for j in jobs) / n,
    }


def _streaming(spans, children, jobs_of, lo, hi):
    """Micro-batches that started inside [lo, hi]."""
    batches = [s for s in spans if s["name"] == "streaming.batch" and lo <= s["start"] <= hi]
    out = {f"streaming.{k}": 0.0 for k in STREAM_PHASES}
    if not batches:
        return out
    for k, phase in STREAM_PHASES.items():
        vals = []
        for b in batches:
            if phase is None:
                vals.append(b["end"] - b["start"])
            else:
                vals.extend(c["end"] - c["start"] for c in children.get(b["id"], ())
                            if c["name"] == f"streaming.{phase}")
        out[f"streaming.{k}"] = _mean(vals)
    out["streaming.rows_per_batch"] = _mean([b["rows"] for b in batches])
    out["streaming.state_rows"] = max(b["state_rows"] for b in batches)
    out["streaming.state_mem_bytes"] = max(b["state_mem_bytes"] for b in batches)
    # the upsert's own time: addBatch less the Spark jobs it ran
    upsert = []
    for b in batches:
        add = [c for c in children.get(b["id"], ()) if c["name"] == "streaming.addBatch"]
        js = jobs_of.get(b["id"], [])
        if add:
            a = add[0]
            upsert.append((a["end"] - a["start"]) -
                          stats.covered([(j["start"], j["end"]) for j in js],
                                        float("-inf"), float("inf")))
    out["serving.upsert_self_ms"] = max(0.0, _mean(upsert))
    return out


def per_layer(workload, res, spans, cpus):
    m = {k: 0.0 for k in UNITS}
    jobs_of = parent_jobs(spans)
    children = {}
    for s in spans:
        if s["parent"]:
            children.setdefault(s["parent"], []).append(s)
    all_jobs = [s for s in spans if s["name"] == "core.job"]

    if workload == "lookup":
        lo, hi = res["read_start_ms"], res["read_end_ms"]
        sm = _streaming(spans, children, jobs_of, lo, hi)
        m.update(sm)
        jobs = [j for j in all_jobs if lo <= j["start"] <= hi]
        m.update(_core(jobs, res["sent"], hi - lo, cpus))
        inproc = {s["parent"]: s for s in spans if s["name"] == "serving.inproc"}
        http = [s for s in spans if s["name"] == "serving.http"]
        gets = [(c["end"] - c["start"]) * 1e3 for c in inproc.values()
                if c["path"].startswith("/wordcount/")]
        prefixes = [(c["end"] - c["start"]) * 1e3 for c in inproc.values()
                    if c["path"].startswith("/purchases/")]
        m["serving.get_us"] = stats.median(gets) if gets else 0.0
        m["serving.prefix_us"] = stats.median(prefixes) if prefixes else 0.0
        m["serving.http_self_us"] = stats.median(
            [stats.self_time(h, [inproc[h["id"]]]) * 1e3 for h in http if h["id"] in inproc])
        fan = [s["end"] - s["start"] for s in spans if s["name"] == "serving.fanout"]
        m["serving.fanout_ms"] = stats.median(fan) if fan else 0.0
        for k in ("redirects", "threads_peak", "non2xx"):
            m[f"serving.{k}"] = res[k]
        m["bench.sent"] = res["sent"]
    elif workload == "batch":
        rows = [s for s in spans if s["name"] == "battery.row"
                and not s["trace"].startswith("warm")]
        for r in BATTERY_ROWS:
            mine = [s for s in rows if s.get("row") == r]
            if not mine:
                continue
            vals = {f: [] for f in BATTERY_FIELDS}
            for row in mine:
                kids = {c["name"]: c for c in children.get(row["id"], ())}
                b, e = kids["battery.build"], kids["battery.exec"]
                bj, ej = jobs_of.get(b["id"], []), jobs_of.get(e["id"], [])
                bms, ems = b["end"] - b["start"], e["end"] - e["start"]
                vals["build_ms"].append(bms)
                vals["build_jobs"].append(len(bj))
                vals["build_self_ms"].append(stats.self_time(b, bj))
                vals["exec_ms"].append(ems)
                vals["exec_jobs"].append(len(ej))
                vals["build_share"].append(bms / (bms + ems))
            for f, v in vals.items():
                m[f"battery.{r}.{f}"] = stats.median(v)
        jobs = [j for r in rows for c in children.get(r["id"], ())
                for j in jobs_of.get(c["id"], [])]
        m.update(_core(jobs, len(rows), sum(r["end"] - r["start"] for r in rows), cpus))
        builds = [s for s in spans if s["name"] == "operators.index_build"]
        queries = [s for s in spans if s["name"] == "operators.bm25_indexed"]
        if builds:
            m["operators.index_build_s"] = stats.median([(s["end"] - s["start"]) / 1e3 for s in builds])
        if queries:
            m["operators.bm25_indexed_ms"] = stats.median([s["end"] - s["start"] for s in queries])
            m["operators.jobs_per_query"] = stats.median(
                [len(jobs_of.get(s["id"], [])) for s in queries])
        m["bench.sent"] = res["attempted"]

    m["bench.gen_late_ms_p99"] = _p99(res.get("gen_late_ms", []))
    m["bench.ok"] = res["attempted"] - res["failed"]
    m["bench.failed"] = res["failed"]
    m["jvm.gc_ms"] = res["gc_ms"]
    m["jvm.heap_used_mb"] = res["heap_used_mb"]
    m["jvm.rss_peak_mb"] = res["rss_peak_mb"]
    return {k: (float(v), UNITS[k]) for k, v in m.items()}


def overhead(untraced_report, traced):
    """Traced minus untraced end-to-end numbers, as a share of the
    untraced ones, when the untraced run of the same seed is on record."""
    try:
        with open(untraced_report) as f:
            base = json.load(f)["end_to_end"]
    except (OSError, KeyError, ValueError):
        return None
    return {k: (traced[k] - v) / v for k, v in base.items() if v and k in traced}
