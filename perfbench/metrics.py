"""Metric arithmetic for the benchmark: raw client measurements -> metrics.

Everything here is pure Python over the raw JSON document the client
writes, so it can be tested without Spark (test_metrics.py).
"""
import math
import statistics

MIN_BEYOND = 10      # samples that must lie beyond a reported percentile


# ----------------------------------------------------------------- statistics

def percentile(values, p):
    """Linear-interpolated p-th percentile (numpy's default method)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    rank = (len(xs) - 1) * p / 100.0
    lo = math.floor(rank)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (rank - lo)


def beyond(n, p):
    """How many of n samples lie beyond the p-th percentile."""
    return n - math.ceil(n * p / 100.0 - 1e-9)


def highest_percentile(n, candidates=(99.9, 99, 95, 90, 75, 50), need=MIN_BEYOND):
    """The highest candidate percentile with at least `need` of n samples
    beyond it, or None when even the lowest has fewer."""
    for p in sorted(candidates, reverse=True):
        if beyond(n, p) >= need:
            return p
    return None


# ---------------------------------------------------------------------- spans

def self_time(span, children):
    """A span's duration minus the part of it that its children cover.
    Overlapping children are counted once; parts outside the span are ignored."""
    start, end = span["start"], span["end"]
    cover = 0.0
    cur_lo = cur_hi = None
    for c in sorted(children, key=lambda c: c["start"]):
        lo, hi = max(c["start"], start), min(c["end"], end)
        if hi <= lo:
            continue
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                cover += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        cover += cur_hi - cur_lo
    return (end - start) - cover


def open_loop_latencies(timeline):
    """Per accepted object: commit time minus the time it was DUE, not the
    time the generator got round to dropping it, so a stalled generator
    shows up as latency. Objects never committed are returned separately."""
    lat, missing = [], []
    for t in timeline:
        if t["kind"] != "ok":
            continue
        if t["commit"] is None or t["commit"] < 0:
            missing.append(t["id"])
        else:
            lat.append(t["commit"] - t["due"])
    return lat, missing


def generator_lag(timeline):
    """How late the open-loop generator dropped notifications (max over all)."""
    return max((t["drop"] - t["due"] for t in timeline), default=0.0)


# ---------------------------------------------------------------- evaluation

class SpanIndex:
    """The raw spans, with each span's children, jobs and stages by span id."""

    def __init__(self, raw):
        self.spans = {s["id"]: s for s in raw.get("spans", [])}
        self.children = {}
        for s in self.spans.values():
            self.children.setdefault(s["parent"], []).append(s)
        self.jobs = {}
        for j in raw.get("jobs", []):
            self.jobs.setdefault(j["span"], []).append(j)
        self.stages = {}
        for st in raw.get("stages", []):
            self.stages.setdefault(st["span"], []).append(st)

    def named(self, prefix):
        return [s for s in self.spans.values() if s["name"].startswith(prefix)]

    def kids(self, span, prefix=""):
        return [c for c in self.children.get(span["id"], []) if c["name"].startswith(prefix)]

    @staticmethod
    def dur(span):
        return span["end"] - span["start"]


def _median(xs, default=0.0):
    xs = [x for x in xs if x is not None and not math.isnan(x)]
    return statistics.median(xs) if xs else default


def _metric(unit, value):
    return {"value": value, "unit": unit}


def check_outputs(raw, golden):
    """Returns (attempted, failed, problems) for every output check."""
    attempted, failed, problems = 0, 0, []

    def bad(msg):
        nonlocal failed
        failed += 1
        problems.append(msg)

    for c in raw.get("checks", []):
        attempted += 1
        g = golden.get(c["name"])
        if g is None:
            bad(f"{c['name']}: no golden value")
        elif (c["rows"], c["hash"]) != (g["rows"], g["hash"]):
            bad(f"{c['name']}: rows/hash {c['rows']}/{c['hash']} != golden {g['rows']}/{g['hash']}")
    for s in raw.get("samples", []):
        attempted += 1
        if not s["ok"]:
            bad(f"{s['name']} failed in pass {s['pass']}")
    recs = list(raw.get("reconcile", []))
    stream_probe = raw.get("probes", {}).get("stream")
    if stream_probe:
        recs += stream_probe["reconcile"]
    for r in recs:
        attempted += 1
        want = (r["rows"], 1) if r["kind"] == "ok" else (0, 0)
        if (r["warehouse_rows"], r["dirs"]) != want:
            where = f" in drain {r['drain']}" if r.get("drain", -1) >= 0 else ""
            bad(f"object {r['id']} ({r['kind']}){where}: warehouse rows/dirs "
                f"{r['warehouse_rows']}/{r['dirs']}, expected {want[0]}/{want[1]}")
    for w in raw.get("probes", {}).get("workbooks", []):
        attempted += 1
        if w.get("parsed_rows") != w["rows"] + 1:  # header row included
            bad(f"probe workbook {w['id']}: parsed {w.get('parsed_rows')} rows, expected {w['rows'] + 1}")
    if "open" in raw:
        _, missing = open_loop_latencies(raw["open"]["timeline"])
        for i in missing:
            bad(f"open-loop object {i} was not committed")
    for e in raw.get("errors", []):
        problems.append(e)
    return attempted, failed, problems


def end_to_end(raw):
    """setup_s and pass_s, the latency samples, and a report line.

    setup_s is the program's set-up: session start, workbook generation and
    the warm pass or drain. The table generation before the JVM starts is
    the benchmark's own and is left out. pass_s is the median wall time of
    a complete query pass (etl_mix) or of a backlog drain (xlsx_arrivals)."""
    setup = raw["session_s"] + raw["warm_s"] + raw.get("workbook_s", 0.0)
    if "samples" in raw:
        ok = [s["latency"] for s in raw["samples"] if s["ok"]]
        passes = [p["end"] - p["start"] for p in raw["passes"] if p["complete"]]
        note = (f"{len(ok)} query samples, {len(passes)} complete passes, "
                f"{len(ok) / (raw['measure_end'] - raw['measure_start']):.4g} queries/s")
    else:
        ok, _ = open_loop_latencies(raw["open"]["timeline"])
        passes = [d["end"] - d["start"] for d in raw["drains"]]
        accepted = raw["drains"][0]["accepted"]
        note = (f"{len(passes)} backlog drains of {accepted} accepted objects each, "
                f"{accepted / _median(passes):.4g} objects/s at the median; "
                f"{len(ok)} open-loop objects at {raw['open']['rate']} notifications/s")
    metrics = {"setup_s": _metric("s", setup), "pass_s": _metric("s", _median(passes))}
    return metrics, ok, note


PASS_METRICS = (
    "operators.construct_s", "operators.construct_jobs", "operators.construct_share",
    "catalyst.analysis_s", "catalyst.optimization_s", "catalyst.planning_s", "catalyst.plan_nodes",
    "exec.s", "exec.jobs", "exec.stages", "exec.tasks", "exec.task_time_s", "exec.busy_share",
    "exec.shuffle_read_bytes", "exec.shuffle_write_bytes", "exec.spill_bytes", "exec.gc_s")


def per_layer(raw):
    """Per-layer metrics of a traced run; every name in BENCHMARK.json's per_layer."""
    sp = SpanIndex(raw)
    cores = raw["cores"]

    def jobs_of(spans):
        return [j for s in spans for j in sp.jobs.get(s["id"], [])]

    def stages_of(spans):
        return [st for s in spans for st in sp.stages.get(s["id"], [])]

    # passes: the traced complete passes of a query workload, or the query
    # probe passes of xlsx_arrivals
    complete = {f"pass:{p['pass']}" for p in raw.get("passes", []) if p["complete"]}
    passes = [s for s in sp.named("pass:") if s["name"] in complete or s["name"].startswith("pass:probe")]
    per_pass = []
    for p in passes:
        qs = sp.kids(p, "query:")
        con = [c for q in qs for c in sp.kids(q, "construct")]
        plan = [c for q in qs for c in sp.kids(q, "plan")]
        ex = [c for q in qs for c in sp.kids(q, "exec")]
        st = stages_of(ex)
        exec_s = sum(map(SpanIndex.dur, ex))
        task_s = sum(s["run_s"] for s in st)
        per_pass.append({
            "operators.construct_s": sum(map(SpanIndex.dur, con)),
            "operators.construct_jobs": len(jobs_of(con)),
            "operators.construct_share": sum(map(SpanIndex.dur, con)) / SpanIndex.dur(p),
            "catalyst.analysis_s": sum(c["attrs"].get("analysis_ms", 0) for c in plan) / 1000.0,
            "catalyst.optimization_s": sum(c["attrs"].get("optimization_ms", 0) for c in plan) / 1000.0,
            "catalyst.planning_s": sum(c["attrs"].get("planning_ms", 0) for c in plan) / 1000.0,
            "catalyst.plan_nodes": sum(c["attrs"].get("nodes", 0) for c in plan),
            "exec.s": exec_s,
            "exec.jobs": len(jobs_of(ex)),
            "exec.stages": len(st),
            "exec.tasks": sum(s["tasks"] for s in st),
            "exec.task_time_s": task_s,
            "exec.busy_share": task_s / (exec_s * cores) if exec_s > 0 else 0.0,
            "exec.shuffle_read_bytes": sum(s["shuffle_read"] for s in st),
            "exec.shuffle_write_bytes": sum(s["shuffle_write"] for s in st),
            "exec.spill_bytes": sum(s["spill"] for s in st),
            "exec.gc_s": sum(s["gc_s"] for s in st),
        })
    out = {k: _median([pp[k] for pp in per_pass]) for k in PASS_METRICS}

    rounds = sp.named("tables:round")
    resolves = [c for r in rounds for c in sp.kids(r, "tables.")]
    out["tables.resolve_s"] = _median([sum(map(SpanIndex.dur, sp.kids(r, "tables."))) for r in rounds])
    out["tables.jobs_per_resolve"] = len(jobs_of(resolves)) / max(1, len(resolves))

    parse = sp.named("xlsx.parse")
    rows = sum(s["attrs"].get("rows", 0) for s in parse)
    out["xlsx.parse_s_per_krow"] = sum(map(SpanIndex.dur, parse)) / rows * 1000.0 if rows else 0.0
    out["xlsx.infer_s"] = _median([SpanIndex.dur(s) for s in sp.named("xlsx.infer")])
    out["sink.write_s"] = _median([SpanIndex.dur(s) for s in sp.named("sink.write")])
    wbs = [w for w in raw.get("probes", {}).get("workbooks", []) if "files" in w]
    out["sink.files_per_object"] = sum(w["files"] for w in wbs) / max(1, len(wbs))

    # streaming: traced backlog drains (+ the traced open loop), or the
    # stream probe of a query workload
    if "drains" in raw:
        traced = [d for d in raw["drains"] if d["traced"]]
        ids = {d["query"] for d in traced}
        if raw["open"].get("traced"):
            ids.add(raw["open"]["query"])
        notified = sum(d["notified"] for d in traced)
        mine = {d["drain"] for d in traced}
        landed = [r for r in raw["reconcile"] if r["drain"] in mine and r["warehouse_rows"] > 0]
        progress = [p for p in raw["progress"] if p["query"] in ids]
    else:
        stream = raw["probes"]["stream"]
        notified = stream["notified"]
        landed = [r for r in stream["reconcile"] if r["warehouse_rows"] > 0]
        progress = stream["progress"]
    drains = sp.named("stream:drain")
    useful = [p for p in progress if p["input_rows"] > 0]
    out["streaming.batches"] = len(progress)
    out["streaming.useful_batch_share"] = len(useful) / max(1, len(progress))
    out["streaming.add_batch_s"] = _median([p["add_batch_ms"] / 1000.0 for p in useful])
    out["streaming.overhead_s"] = _median([(p["trigger_ms"] - p["add_batch_ms"]) / 1000.0 for p in useful])
    out["streaming.jobs_per_object"] = len(jobs_of(drains)) / max(1, len(landed))
    out["streaming.accept_share"] = len(landed) / max(1, notified)

    if "open" in raw:
        out["loadgen.lag_max_s"] = generator_lag(raw["open"]["timeline"])
    else:
        s = sorted(raw["samples"], key=lambda s: s["start"])
        out["loadgen.lag_max_s"] = max((b["start"] - a["end"] for a, b in zip(s, s[1:])), default=0.0)

    # traced against untraced passes (or drains), which alternate
    dur = {True: [], False: []}
    for p in raw["drains"] if "drains" in raw else [p for p in raw["passes"] if p["complete"]]:
        dur[p["traced"]].append(p["end"] - p["start"])
    out["trace.overhead_share"] = _median(dur[True]) / _median(dur[False]) - 1.0
    return out


UNITS = (("_per_krow", "s/krow"), ("_bytes", "bytes"), ("_share", "ratio"), ("_s", "s"), (".s", "s"))


def unit_of(name):
    """A per-layer metric's unit, from its name's suffix; counts otherwise."""
    return next((unit for suffix, unit in UNITS if name.endswith(suffix)), "count")


def evaluate(raw, golden, traced):
    attempted, failed, problems = check_outputs(raw, golden)
    steal = raw.get("steal_share")
    report = [f"# workload {raw['workload']} seed {raw['seed']} on local[{raw['cores']}]"
              + (f"; CPU steal during the run {steal:.1%}" if steal is not None else "")]
    if "gen_s" in raw:
        report.append(f"# tables generated in {raw['gen_s']:.3g} s (harness time, not in setup_s)")
    if traced:
        metrics = {k: _metric(unit_of(k), v) for k, v in per_layer(raw).items()}
    else:
        metrics, ok, note = end_to_end(raw)
        p = highest_percentile(len(ok))
        report.append(f"# {note}")
        report.append(f"# latency (not gated, see README.md): p50 = {percentile(ok, 50):.4g} s over {len(ok)} "
                      f"samples; highest percentile with >= {MIN_BEYOND} beyond it: "
                      + (f"p{p:g} = {percentile(ok, p):.4g} s" if p else "none"))
    report += [f"{k} = {v['value']:.6g} {v['unit']}" for k, v in sorted(metrics.items())]
    report.append(f"error_rate = {failed / max(1, attempted):.6g} ratio ({failed} of {attempted})")
    report += [f"# problem: {p}" for p in problems[:20]]
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": metrics, "report": report}


def trace_document(raw):
    """All spans with their self time, plus totals per span kind."""
    sp = SpanIndex(raw)
    spans, kinds = [], {}
    for s in sorted(sp.spans.values(), key=lambda s: s["id"]):
        me = self_time(s, sp.children.get(s["id"], []))
        jobs = [j["id"] for j in sp.jobs.get(s["id"], [])]
        spans.append(dict(s, self_s=me, jobs=jobs))
        kind = s["name"].split(":")[0]
        k = kinds.setdefault(kind, {"count": 0, "total_s": 0.0, "self_s": 0.0, "jobs": 0})
        k["count"] += 1
        k["total_s"] += SpanIndex.dur(s)
        k["self_s"] += me
        k["jobs"] += len(jobs)
    return {"workload": raw["workload"], "seed": raw["seed"], "by_kind": kinds, "spans": spans}
