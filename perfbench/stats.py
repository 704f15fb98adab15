"""Statistics and trace analysis of the benchmark.

The harness (perfbench/src) writes raw records only: per key-run times,
and in a traced run every job, stage, SQL execution and streaming
progress report Spark's listeners saw. Everything derived from them is
computed here, so that it can be unit-tested (perfbench/test_stats.py).
"""
import statistics

# Samples that must lie beyond the reported tail percentile.
TAIL_BEYOND = 10


def median(xs):
    return statistics.median(xs)


def quartiles(xs):
    """First quartile, median and third quartile, as Python's
    statistics.quantiles(xs, n=4) gives them."""
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def tail(xs):
    """The sample at the highest percentile that has TAIL_BEYOND samples
    beyond it, or half of them when there are too few samples for that.
    Returns (value, percentile, n)."""
    s = sorted(xs)
    n = len(s)
    i = n - 1 - min(TAIL_BEYOND, n // 2)
    return s[i], 100.0 * (i + 1) / n, n


def failed_frac(attempted, failed):
    """Key-runs that threw or failed the output check, over key-runs
    attempted."""
    if attempted < 1:
        raise ValueError("no key-runs attempted")
    return failed / attempted


def covered(intervals, lo, hi):
    """Length of [lo, hi] covered by the union of `intervals`."""
    total, end = 0.0, lo
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= end:
            continue
        total += e - max(s, end)
        end = e
    return total


def self_times(spans):
    """Self time of each span: its duration minus the part of it that
    the union of its children covers. Spans are dicts with id, parent,
    start and end; returns id -> self time."""
    kids = {}
    for sp in spans:
        kids.setdefault(sp["parent"], []).append((sp["start"], sp["end"]))
    return {sp["id"]: (sp["end"] - sp["start"])
            - covered(kids.get(sp["id"], []), sp["start"], sp["end"])
            for sp in spans}


def summary(raw, check_failures):
    """End-to-end metrics of an untraced pass set, with the details the
    report prints beside them."""
    timed = raw["timed"]
    walls = [p["wall_s"] for p in timed]
    lat = [r["s"] for p in timed for r in p["runs"] if r["error"] is None]
    passes = timed + raw["traced"] + ([raw["single_client"]] if raw["single_client"] else [])
    runs = [r for p in passes for r in p["runs"]]
    threw = sum(r["error"] is not None for r in runs)
    attempted = len(runs) + len(raw["keys"])
    failed = threw + len(check_failures)
    t, pct, n = tail(lat) if lat else (0.0, 0.0, 0)
    return {
        "setup_s": raw["setup"]["s"],
        "pass_wall_s": median(walls),
        "pass_cpu_s": median([p["cpu_s"] for p in timed]),
        "query_p50_s": median(lat) if lat else 0.0,
        "query_tail_s": t,
        "peak_rss_mb": raw["peak_rss_mb"],
        "failed_frac": failed_frac(attempted, failed),
        "_tail_pct": pct, "_n": n, "_passes": len(timed), "_walls": walls,
        "_attempted": attempted, "_failed": failed,
    }


STREAM_PHASES = ["addBatch", "queryPlanning", "walCommit", "commitOffsets",
                 "latestOffset", "getBatch"]
PHASES = ("analysis", "optimization", "planning")
PEAKS = {"streaming.state_mem_bytes"}  # per-layer metrics that take the max, not the sum
TASK_SUMS = {  # per-layer metric -> (stage field, scale)
    "exec.tasks": ("tasks", 1), "exec.run_s": ("run_ms", 1e-3),
    "exec.cpu_s": ("cpu_ns", 1e-9), "exec.gc_s": ("gc_ms", 1e-3),
    "exec.deser_s": ("deser_ms", 1e-3), "exec.sched_wait_s": ("sched_wait_ms", 1e-3),
    "exec.result_bytes": ("result_bytes", 1), "exec.task_failures": ("task_failures", 1),
    "shuffle.write_bytes": ("shuffle_write_bytes", 1),
    "shuffle.read_bytes": ("shuffle_read_bytes", 1),
    "shuffle.fetch_wait_s": ("fetch_wait_ms", 1e-3),
    "shuffle.spill_bytes": ("spill_bytes", 1),
    "sources.input_bytes": ("input_bytes", 1),
    "sources.input_records": ("input_records", 1),
    "sources.output_bytes": ("output_bytes", 1),
}


def layers(raw):
    """Attributes every traced record to its key-run and returns
    (per-layer metrics of the workload, per-key metrics, spans,
    self time per span name, unattributed job ids).

    Span tree: pass > key > build, plan, trigger, exec (a Spark job) >
    stage. A job or trigger that starts while the key's DataFrame is
    being built hangs under build; a job inside a trigger of its
    key-run hangs under that trigger. Per-layer metrics are sums over a
    traced pass (peaks for PEAKS), medians over the traced passes."""
    tr = raw["trace"]
    traced = raw["traced"]
    run_of = {}      # job tag -> (pass index, key-run)
    for i, p in enumerate(traced):
        for r in p["runs"]:
            run_of[r["tag"]] = (i, r)

    def owner(tags):
        mine = [run_of[t] for t in tags if t in run_of]
        return mine[0] if len(mine) == 1 else None

    per_pass = [{} for _ in traced]
    per_key = {}     # (pass, key) -> metric -> value

    def put(d, name, v):
        d[name] = max(d.get(name, 0.0), v) if name in PEAKS else d.get(name, 0.0) + v

    def add(o, name, v):
        put(per_pass[o[0]], name, v)
        put(per_key.setdefault((o[0], o[1]["key"]), {}), name, v)

    def parent(o, start):
        r = o[1]
        return r["tag"] + "/build" if start < r["built_ms"] else r["tag"]

    spans = []
    for i, p in enumerate(traced):
        spans.append({"id": f"pass{i}", "parent": None, "name": "pass",
                      "start": p["start_ms"], "end": p["end_ms"]})
        for r in p["runs"]:
            add((i, r), "SparkEntry.build_s", r["build_s"])
            spans.append({"id": r["tag"], "parent": f"pass{i}", "name": "key",
                          "key": r["key"], "start": r["start_ms"], "end": r["end_ms"]})
            spans.append({"id": r["tag"] + "/build", "parent": r["tag"], "name": "build",
                          "start": r["start_ms"], "end": r["built_ms"]})

    # Planning records carry no job tags: each counts for the traced
    # pass whose window holds it, and for a key-run when exactly one
    # holds it (phase times are whole ms).
    for n, pl in enumerate(tr["plans"]):
        ph = [pl[k] for k in PHASES if k in pl]
        if not ph:
            continue
        lo, hi = min(x["start_ms"] for x in ph), max(x["end_ms"] for x in ph)
        inside = [i for i, p in enumerate(traced)
                  if p["start_ms"] - 1 <= lo and hi <= p["end_ms"] + 1]
        if not inside:
            continue
        holders = [o for o in run_of.values()
                   if o[1]["start_ms"] - 1 <= lo and hi <= o[1]["end_ms"] + 1]
        for phase in PHASES:
            if phase in pl:
                v = (pl[phase]["end_ms"] - pl[phase]["start_ms"]) / 1e3
                if len(holders) == 1:
                    add(holders[0], f"catalyst.{phase}_s", v)
                else:
                    put(per_pass[inside[0]], f"catalyst.{phase}_s", v)
        if len(holders) == 1:
            spans.append({"id": f"plan{n}", "parent": parent(holders[0], lo), "name": "plan",
                          "start": lo, "end": hi})

    trigger_spans = {}   # key-run tag -> [(start, end, span id)]
    triggers = []
    last_state = {}
    query_owner = {q["run"]: owner(q["tags"]) for q in tr["queries"]}
    for pr in tr["progress"]:
        o = query_owner.get(pr["run"])
        if not o:
            continue
        d = pr["duration_ms"]
        trig = d.get("triggerExecution", 0)
        triggers.append(trig)
        add(o, "streaming.triggers", 1)
        for ph in STREAM_PHASES:
            add(o, f"streaming.{ph}_ms", d.get(ph, 0))
        add(o, "streaming.state_commit_ms", pr["state_commit_ms"])
        add(o, "streaming.rows_in", pr["rows_in"])
        add(o, "streaming.state_mem_bytes", pr["state_mem_bytes"])
        last = last_state.get(pr["run"])
        if last is None or pr["start_ms"] >= last[0]:
            last_state[pr["run"]] = (pr["start_ms"], o, pr["state_rows"])
        sid = f"trigger{pr['run']}@{pr['start_ms']}"
        trigger_spans.setdefault(o[1]["tag"], []).append(
            (pr["start_ms"], pr["start_ms"] + trig, sid))
        spans.append({"id": sid, "parent": parent(o, pr["start_ms"]), "name": "trigger",
                      "start": pr["start_ms"], "end": pr["start_ms"] + trig})
    for _, o, rows in last_state.values():
        add(o, "streaming.state_rows", rows)

    windows = [(p["start_ms"], p["end_ms"]) for p in traced]
    stage_of, unattributed = {}, []   # stage id -> (job id, key-run)
    for j in tr["jobs"]:
        o = owner(j["tags"])
        if o and o[1]["start_ms"] - 1 <= j["start_ms"] <= o[1]["end_ms"] + 1:
            add(o, "exec.jobs", 1)
            in_trigger = [sid for s, e, sid in trigger_spans.get(o[1]["tag"], [])
                          if s <= j["start_ms"] <= e]
            spans.append({"id": f"job{j['job']}", "name": "exec",
                          "parent": in_trigger[0] if in_trigger else parent(o, j["start_ms"]),
                          "start": j["start_ms"], "end": j["end_ms"]})
            for sid in j["stages"]:
                stage_of.setdefault(sid, (j["job"], o))
        elif any(s <= j["start_ms"] <= e for s, e in windows):
            unattributed.append(j["job"])
    for st in tr["stages"]:
        hit = stage_of.get(st["stage"])
        if hit is None:
            continue
        jid, o = hit
        add(o, "exec.stages", 1)
        for name, (field, scale) in TASK_SUMS.items():
            add(o, name, st[field] * scale)
        spans.append({"id": f"stage{st['stage']}.{st['attempt']}", "parent": f"job{jid}",
                      "name": "stage", "start": st["start_ms"], "end": st["end_ms"]})

    names = (["SparkEntry.build_s"] + [f"catalyst.{ph}_s" for ph in PHASES]
             + ["exec.jobs", "exec.stages"] + list(TASK_SUMS) + ["streaming.triggers"]
             + [f"streaming.{ph}_ms" for ph in STREAM_PHASES]
             + ["streaming.state_commit_ms", "streaming.state_rows",
                "streaming.state_mem_bytes", "streaming.rows_in"])
    out = {name: median([d.get(name, 0.0) for d in per_pass]) for name in names}
    t, _, _ = tail(triggers) if triggers else (0.0, 0.0, 0)
    out["streaming.trigger_p50_ms"] = median(triggers) if triggers else 0.0
    out["streaming.trigger_tail_ms"] = t
    out["exec.unattributed_jobs"] = len(unattributed)
    out["GraftSession.session_s"] = raw["setup"]["session_s"]
    out["setup.warm_s"] = raw["setup"]["warm_s"]
    for k, v in raw["kernels"].items():
        out[f"plans.{k}"] = v
    n = len(traced)
    out["jvm.gc_s"] = tr["jvm"]["gc_s"] / n
    out["jvm.heap_peak_mb"] = tr["jvm"]["heap_peak_mb"]
    out["jvm.rss_peak_mb"] = raw["peak_rss_mb"]
    untraced_wall = median([p["wall_s"] for p in raw["timed"]])
    out["trace.overhead_s"] = median([p["wall_s"] for p in traced]) - untraced_wall
    single = raw["single_client"]
    out["pass.k1_wall_s"] = single["wall_s"] if single else untraced_wall

    keyed = {}
    for (_, key), d in per_key.items():
        for name, v in d.items():
            keyed.setdefault(key, {}).setdefault(name, []).append(v)
    per_key_median = {k: {name: median(vs) for name, vs in d.items()}
                      for k, d in keyed.items()}
    selfs = self_times(spans)
    by_name = {}
    for sp in spans:
        by_name[sp["name"]] = by_name.get(sp["name"], 0.0) + selfs[sp["id"]] / 1e3 / n
    return out, per_key_median, spans, by_name, unattributed
