"""Turn one run's raw record (written by the JVM harness) into the
reported metrics: end-to-end numbers from untraced runs, per-layer
numbers from traced runs. Pure functions, tested in test_pipebench.py.
"""

import statistics

LAYERS = [
    "sources.LandingZone", "sources.MemberPages",
    "votes.MatchNames", "votes.FindDuplicates", "votes.ApplyEdits", "votes.Export",
    "llm.TextStats", "llm.Dedup", "llm.Components", "llm.Similarity",
    "streaming.IndexedIngestDedup", "streaming.VectorIngest",
]
GENERIC = [("wall_s", "s"), ("self_s", "s"), ("jobs", "count"), ("task_s", "s"),
           ("idle_s", "s"), ("shuffle_mb", "MB"), ("spill_mb", "MB")]
# layer counters measured by the workload checks from the pass outputs
COUNTERS = [
    ("sources.LandingZone.votes_parsed", "count", "higher"),
    ("votes.MatchNames.match_rate", "ratio", "higher"),
    ("votes.MatchNames.residue_rows", "count", "lower"),
    ("votes.FindDuplicates.candidates", "count", "lower"),
    ("votes.FindDuplicates.merge_rate", "ratio", "higher"),
    ("votes.ApplyEdits.rows_changed", "count", "lower"),
    ("votes.Export.bytes_out", "bytes", "lower"),
    ("llm.TextStats.keep_frac", "ratio", "higher"),
    ("llm.Dedup.candidates", "count", "lower"),
    ("llm.Dedup.verified_frac", "ratio", "higher"),
    ("llm.Components.iterations", "count", "lower"),
    ("streaming.IndexedIngestDedup.survivor_frac", "ratio", "higher"),
    ("streaming.IndexedIngestDedup.written_mb", "MB", "lower"),
]
DERIVED = [
    ("streaming.IndexedIngestDedup.jobs_per_batch", "count", "lower"),
    ("stream.addBatch_s", "s", "lower"),
    ("stream.queryPlanning_s", "s", "lower"),
    ("stream.walCommit_s", "s", "lower"),
    ("stream.batch_p50_s", "s", "lower"),
    ("stream.batch_tail_s", "s", "lower"),
    ("stream.batch_tail_n", "count", "higher"),
    ("llm.Dedup.build_s", "s", "lower"),
    ("llm.Similarity.build_s", "s", "lower"),
    ("jvm.gc_s", "s", "lower"),
    ("jvm.jit_s", "s", "lower"),
    ("jvm.jit_cold_s", "s", "lower"),
    ("glue.wall_s", "s", "lower"),
    ("trace.uncovered_s", "s", "lower"),
    ("trace.overhead_frac", "ratio", "lower"),
]
END_TO_END = [("setup_s", "s"), ("cold_s", "s"), ("run_s", "s"),
              ("ok_frac", "ratio"), ("live_heap_mb", "MB"), ("written_mb", "MB")]


def per_layer_names():
    """(name, unit, better) of every per-layer metric, in report order."""
    out = []
    for layer in LAYERS:
        for m, unit in GENERIC:
            out.append(("%s.%s" % (layer, m), unit, "lower"))
    return out + COUNTERS + DERIVED


# ------------------------------------------------------------ arithmetic


def union_length(intervals):
    """Total length covered by the union of (start, end) intervals."""
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


def clip(intervals, lo, hi):
    return [(max(s, lo), min(e, hi)) for s, e in intervals if min(e, hi) > max(s, lo)]


def self_time(start, end, children):
    """A span's duration minus the part its children's intervals cover;
    children may overlap each other and stick out of the span."""
    return (end - start) - union_length(clip(children, start, end))


def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail(samples, beyond=10):
    """The highest percentile with at least `beyond` samples above it:
    (value, percentile, sample count); the maximum when there are too
    few samples."""
    xs = sorted(samples)
    n = len(xs)
    if n == 0:
        return 0.0, 0.0, 0
    if n <= beyond:
        return xs[-1], 100.0, n
    k = n - beyond - 1
    return xs[k], 100.0 * (k + 1) / n, n


# ------------------------------------------------------------ end to end


def end_to_end(run):
    """Metrics from an untraced run's passes. Failed passes count as
    attempted and contribute no time."""
    passes = run["passes"]
    ok = [p for p in passes if p["ok"]]
    cold = [p for p in passes if p["phase"] == "cold"]
    measured = [p for p in ok if p["phase"] == "measure" and not p["traced"]]
    return {
        "setup_s": run["session_s"] + median(run["setup_work_s"]),
        "cold_s": cold[0]["wall_s"] if cold and cold[0]["ok"] else None,
        "run_s": median([p["wall_s"] for p in measured]) if measured else None,
        "ok_frac": len(ok) / float(len(passes)),
        "live_heap_mb": run["live_heap_mb"],
        "written_mb": median([p["written_bytes"] / 1e6 for p in measured]) if measured else None,
    }


# ------------------------------------------------------------ per layer


def layer_of(name):
    return name.rsplit(".", 1)[0] if "." in name else name


def _pass_layers(spans, tasks_by_span, jobs_by_span, batches_by_span):
    """Generic metrics per layer for the spans of one pass."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = {}
    for s in spans:
        layer = layer_of(s["name"])
        if layer not in LAYERS:
            continue
        t = tasks_by_span.get(s["id"], [])
        children = kids.get(s["id"], []) + batches_by_span.get(s["id"], [])
        acc = out.setdefault(layer, dict.fromkeys([m for m, _ in GENERIC], 0.0))
        acc["wall_s"] += (s["end"] - s["start"]) / 1e3
        acc["self_s"] += self_time(s["start"], s["end"], children) / 1e3
        acc["jobs"] += jobs_by_span.get(s["id"], 0)
        acc["task_s"] += sum(x["finish"] - x["launch"] for x in t) / 1e3
        busy = union_length(clip([(x["launch"], x["finish"]) for x in t], s["start"], s["end"]))
        acc["idle_s"] += ((s["end"] - s["start"]) - busy) / 1e3
        acc["shuffle_mb"] += sum(x["shuffle_write"] for x in t) / 1e6
        acc["spill_mb"] += sum(x["spill"] for x in t) / 1e6
    return out


def per_layer(run):
    """Per-layer metrics of a traced run: each is the median over the
    traced measured passes (set-up repetitions for index builds)."""
    tr = run["trace"]
    spans = tr["spans"]
    tasks_by_span, jobs_by_span = {}, {}
    for x in tr["tasks"]:
        tasks_by_span.setdefault(x["span"], []).append(x)
    for j in tr["jobs"]:
        jobs_by_span[j["span"]] = jobs_by_span.get(j["span"], 0) + 1
    # streaming progress joins its span through the query's jobs
    query_span = {}
    for j in tr["jobs"]:
        if j.get("query"):
            query_span.setdefault(j["query"], j["span"])
    batches_by_span, batch_rows = {}, {}
    for p in tr["progress"]:
        sid = query_span.get(p["query"])
        if sid is None:
            continue
        batch_rows.setdefault(sid, []).append(p)
        batches_by_span.setdefault(sid, []).append((p["start"], p["start"] + p["duration_ms"]))

    by_pass = {}
    for s in spans:
        by_pass.setdefault(s["pass"], []).append(s)
    passes = run["passes"]
    traced = [p for p in passes if p["traced"] and p["ok"]]
    untraced = [p for p in passes if p["phase"] == "measure" and not p["traced"] and p["ok"]]

    samples = {}

    def add(name, v):
        samples.setdefault(name, []).append(v)

    ingest_batches = []
    for p in traced:
        ss = by_pass.get(p["n"], [])
        layers = _pass_layers(ss, tasks_by_span, jobs_by_span, batches_by_span)
        for layer in LAYERS:
            acc = layers.get(layer, dict.fromkeys([m for m, _ in GENERIC], 0.0))
            for m, _ in GENERIC:
                add("%s.%s" % (layer, m), acc[m])
        for k, v in p["counters"].items():
            add(k, v)
        phases = {"addBatch": 0.0, "queryPlanning": 0.0, "walCommit": 0.0}
        n_batches = 0
        ingest_jobs = 0
        for s in ss:
            rows = [b for b in batch_rows.get(s["id"], []) if b["rows"] > 0]
            for b in rows:
                for k in phases:
                    phases[k] += b["phases"].get(k, 0) / 1e3
            if s["name"] == "streaming.IndexedIngestDedup.ingestLoop":
                n_batches += len(rows)
                ingest_jobs += jobs_by_span.get(s["id"], 0)
                ingest_batches += [b["duration_ms"] / 1e3 for b in rows]
        for k, v in phases.items():
            add("stream.%s_s" % k, v)
        add("streaming.IndexedIngestDedup.jobs_per_batch",
            ingest_jobs / float(n_batches) if n_batches else 0.0)
        add("glue.wall_s", sum((s["end"] - s["start"]) / 1e3 for s in ss
                                if s["name"].startswith("glue.")))
        roots = [s for s in ss if s["name"] == "pass"]
        for r in roots:
            kids = [(s["start"], s["end"]) for s in ss if s["parent"] == r["id"]]
            add("trace.uncovered_s", self_time(r["start"], r["end"], kids) / 1e3)

    out = {name: median(samples.get(name, [])) for name, _, _ in per_layer_names()}
    out["stream.batch_p50_s"] = median(ingest_batches)
    t, _, n = tail(ingest_batches)
    out["stream.batch_tail_s"], out["stream.batch_tail_n"] = t, n
    for layer, call in (("llm.Dedup", "buildLshIndex"), ("llm.Similarity", "loadOrBuildIvfPq")):
        builds = [(s["end"] - s["start"]) / 1e3 for s in spans
                  if s["pass"] < 0 and s["name"] == "%s.%s" % (layer, call)]
        out["%s.build_s" % layer] = median(builds)
    measured = [p for p in passes if p["phase"] == "measure" and p["ok"]]
    out["jvm.gc_s"] = median([p["gc_s"] for p in measured])
    out["jvm.jit_s"] = median([p["jit_s"] for p in measured])
    cold = [p for p in passes if p["phase"] == "cold"]
    out["jvm.jit_cold_s"] = cold[0]["jit_s"] if cold else 0.0
    tw = median([p["wall_s"] for p in traced])
    uw = median([p["wall_s"] for p in untraced])
    out["trace.overhead_frac"] = tw / uw - 1.0 if traced and untraced and uw else 0.0
    return out
