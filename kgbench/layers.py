"""Per-layer metrics from the traced build's records.

Layers are the engine's modules: ingest (SpanChunker, GazetteerNer,
RelationPatterns), link (Linker), canon (ConnectedComponents, Canonicalize)
and core (TableIO). IngestJob.run commits one table per stage through
TableIO.commit, so the stages are read off its committed snapshots: a
stage's window runs from the previous commit (or the start of the run) to
its own commit's created_at_ms. Inside a window, the stack samples of the
calling thread split the time into `call` (inside a layer's code: its
public calls, eager analysis included), `commit` (inside TableIO.commit)
and the window's self time (IngestJob's own glue, such as reading back the
previous stage's table).
"""
import bisect
import json
import os
import re
import statistics

# (stage span, the table IngestJob.run commits at its end), in run order
STAGE_TABLES = (("ingest.chunk", "chunks"), ("ingest.ner", "mentions"),
                ("ingest.relations", "triples"), ("link.entities", "entities"),
                ("link.pairs", "dup_pairs"), ("canon.cc", "components"),
                ("canon.nodes", "nodes"), ("canon.edges", "edges"),
                ("canon.mentions", "mentions_final"))
STAGES = tuple(s for s, _ in STAGE_TABLES)

STAGE_METRICS = (("wall_s", "s"), ("call_s", "s"), ("commit_s", "s"), ("idle_s", "s"),
                 ("task_s", "s"), ("jobs", "count"), ("shuffle_mb", "MB"),
                 ("skew", "ratio"), ("codegen_s", "s"), ("rows_out", "rows"))

GLOBAL_METRICS = (("core.commit_s", "s"), ("core.bytes_written_mb", "MB"),
                  ("core.files_written", "count"), ("link.pairs.accept_ratio", "ratio"),
                  ("trace.overhead_s", "s"), ("trace.coverage", "ratio"))

NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}\Z")
UNIT = re.compile(r"[A-Za-z0-9_/%.-]{1,16}\Z")


def metric_units():
    """Every per-layer metric name with its unit, in report order."""
    out = [(f"{s}.{m}", u) for s in STAGES for m, u in STAGE_METRICS]
    return out + list(GLOBAL_METRICS)


def check_names(pairs):
    """Raises ValueError unless every (name, unit) is well formed and names are unique."""
    seen = set()
    for name, unit in pairs:
        if not NAME.match(name) or not UNIT.match(unit) or name in seen:
            raise ValueError(f"bad or repeated metric {name!r} [{unit!r}]")
        seen.add(name)


def union_length(intervals):
    """Length of the union of (start, end) intervals."""
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


def covered(span, intervals):
    """How much of span = (start, end) the intervals cover."""
    s0, e0 = span
    return union_length([(max(s, s0), min(e, e0)) for s, e in intervals])


def self_time(span, children):
    """A span's duration minus the part of it its child spans cover."""
    return (span[1] - span[0]) - covered(span, children)


def commits(work):
    """{table: {"at": created_at_ms, "rows": rows}} of every table committed under `work`."""
    out = {}
    for table in sorted(os.listdir(work)):
        cur = os.path.join(work, table, "_current")
        if os.path.isfile(cur):
            with open(cur) as f:
                snap = f.read().strip()
            with open(os.path.join(work, table, "_snapshots", f"{snap}.json")) as f:
                m = json.load(f)
            out[table] = {"at": m["created_at_ms"], "rows": m["rows"]}
    return out


def windows(committed, run_start):
    """{stage: (start, end)}: each committed stage table closes the window that
    the previous commit opened. A stage whose table was not committed gets an
    empty window; time spent on tables outside STAGE_TABLES falls into the
    window of the next stage table committed after them."""
    stage_of = dict((t, s) for s, t in STAGE_TABLES)
    out = {s: (0.0, 0.0) for s in STAGES}
    prev = run_start
    for table in sorted(committed, key=lambda t: committed[t]["at"]):
        if table in stage_of:
            out[stage_of[table]] = (prev, committed[table]["at"])
            prev = committed[table]["at"]
    return out


def sample_intervals(samples):
    """{kind: [(start, end)]}: sample i covers [t_i, t_(i+1)); runs of one kind merge."""
    t, kinds = samples["t"], samples["kind"]
    out = {}
    i = 0
    while i < len(t) - 1:
        j = i + 1
        while j < len(t) - 1 and kinds[j] == kinds[i]:
            j += 1
        out.setdefault(kinds[i], []).append((t[i], t[j]))
        i = j
    return out


def value_at(times, values, t):
    """The last of `values` sampled at or before t (0 before the first sample)."""
    i = bisect.bisect_right(times, t)
    return values[i - 1] if i else 0.0


def skew(task_ms):
    """Slowest task over the median task (1 ms floor on the median)."""
    if not task_ms:
        return 0.0
    return max(task_ms) / max(statistics.median(task_ms), 1.0)


def span_report(trace, committed):
    """Wall, call, commit and self time of the build and of every stage window, in seconds."""
    run = (trace["run"]["start"], trace["run"]["end"])
    win = windows(committed, run[0])
    iv = sample_intervals(trace["samples"])
    out = [{"name": "build", "wall_s": (run[1] - run[0]) / 1e3,
            "self_s": self_time(run, list(win.values())) / 1e3}]
    for st in STAGES:
        w = win[st]
        out.append({"name": st, "table": dict(STAGE_TABLES)[st], "wall_s": (w[1] - w[0]) / 1e3,
                    "call_s": covered(w, iv.get("l", [])) / 1e3,
                    "commit_s": covered(w, iv.get("c", [])) / 1e3,
                    "self_s": self_time(w, iv.get("l", []) + iv.get("c", [])) / 1e3})
    return out


def layer_metrics(trace, committed, untraced_build_s, files_written):
    """Per-layer metrics as {name: value}, from Trace's JSON document and the
    traced build's commits."""
    run = (trace["run"]["start"], trace["run"]["end"])
    run_ms = run[1] - run[0]
    win = windows(committed, run[0])
    iv = sample_intervals(trace["samples"])
    jobs = [(j["start"], j["end"]) for j in trace["jobs"]]
    cg_t, cg_v = trace["samples"]["t"], trace["samples"]["codegen_ms"]
    out = {}
    for st, table in STAGE_TABLES:
        s, e = win[st]
        stages = [g for g in trace["stages"] if s <= g["submitted"] < e]
        longest = max(stages, key=lambda g: g["completed"] - g["submitted"], default=None)
        out[f"{st}.wall_s"] = (e - s) / 1e3
        out[f"{st}.call_s"] = covered((s, e), iv.get("l", [])) / 1e3
        out[f"{st}.commit_s"] = covered((s, e), iv.get("c", [])) / 1e3
        out[f"{st}.idle_s"] = (e - s - covered((s, e), jobs)) / 1e3
        out[f"{st}.task_s"] = sum(g["run_ms"] for g in stages) / 1e3
        out[f"{st}.jobs"] = sum(1 for j in jobs if s <= j[0] < e)
        out[f"{st}.shuffle_mb"] = sum(g["shuffle_write_bytes"] for g in stages) / 1e6
        out[f"{st}.skew"] = skew(longest["task_ms"]) if longest else 0.0
        out[f"{st}.codegen_s"] = (value_at(cg_t, cg_v, e) - value_at(cg_t, cg_v, s)) / 1e3
        out[f"{st}.rows_out"] = committed.get(table, {}).get("rows", 0)
    out["core.commit_s"] = sum(out[f"{st}.commit_s"] for st in STAGES)
    out["core.bytes_written_mb"] = sum(g["output_bytes"] for g in trace["stages"]) / 1e6
    out["core.files_written"] = files_written
    cands = trace["candidate_pairs"]
    out["link.pairs.accept_ratio"] = out["link.pairs.rows_out"] / cands if cands else 0.0
    out["trace.overhead_s"] = run_ms / 1e3 - untraced_build_s
    out["trace.coverage"] = sum(out[f"{st}.wall_s"] for st in STAGES) / (run_ms / 1e3)
    return out
