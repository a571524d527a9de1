"""Analysis of one run record (the JSON the JVM side writes): latency
percentiles, span self time, and the end-to-end and per-layer metrics."""

import json
import os
import statistics

MB = 1048576.0

BENCHMARK = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                         "BENCHMARK.json")

# Spark jobs whose call site is in the model module's table loader become
# spans of the model layer: queries open tables inside their builders,
# where the benchmark cannot wrap the call.
MODEL_SITE = "Tables.scala"
MODEL_SPAN = "model.open"


def metric_units(kind):
    """Name -> unit of the "end_to_end" or "per_layer" metrics of
    BENCHMARK.json, in the order listed there."""
    with open(BENCHMARK) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)[kind]}


def tail(values):
    """The highest percentile with at least ten samples beyond it.

    Returns (value, percentile, samples) or None with fewer than 11
    samples. On sorted samples x[0..n-1], x[n-11] has exactly ten samples
    above it; it is the (n-10)/n quantile by nearest rank."""
    xs = sorted(values)
    n = len(xs)
    if n < 11:
        return None
    return xs[n - 11], 100.0 * (n - 10) / n, n


def union_length(intervals, lo, hi):
    """Length of the union of intervals clipped to [lo, hi]."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_times(spans):
    """Self time of each span: its duration minus the part of it that its
    child spans cover. `spans` are dicts with id, parent, start, end."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        kids = [(c["start"], c["end"]) for c in children.get(s["id"], [])]
        out[s["id"]] = (s["end"] - s["start"]) - union_length(kids, s["start"], s["end"])
    return out


def with_job_spans(spans, jobs):
    """Spans plus one child span MODEL_SPAN per job whose call site is in
    MODEL_SITE, under the innermost span of its operation containing its
    start. Every job also gets the name of the span it ran in (`in`)."""
    spans = [dict(s) for s in spans]
    by_op = {}
    for s in spans:
        by_op.setdefault(s["op"], []).append(s)
    next_id = max([s["id"] for s in spans], default=-1) + 1
    for j in jobs:
        if j["end"] is None:
            continue
        inside = [s for s in by_op.get(j["op"], [])
                  if s["start"] <= j["start"] <= s["end"] and not s.get("job")]
        host = max(inside, key=lambda s: s["start"]) if inside else None
        j["in"] = host["name"] if host else None
        if MODEL_SITE in j["site"] and host:
            spans.append({"id": next_id, "parent": host["id"], "op": j["op"],
                          "name": MODEL_SPAN, "start": j["start"],
                          "end": min(j["end"], host["end"]), "job": True})
            next_id += 1
    return spans


def timed_ms(rec):
    """Wall of the timed phase without the benchmark's own work in it."""
    return rec["timed_end"] - rec["timed_start"] - rec["untimed_ms"]


def end_to_end(rec, setup_s):
    """The end-to-end metrics (name -> value), and a report with the
    latency split by read and write, tails, failures and space_amp."""
    ops = rec["ops"]
    lat = [(o["end"] - o["start"]) / 1000.0 for o in ops]
    m = {
        "setup_s": setup_s,
        "wall_s": timed_ms(rec) / 1000.0 / rec["cycles"],
        "op_p50_s": statistics.median(lat),
        "cpu_s": rec["cpu_s"] / rec["cycles"],
    }
    failed = sum(1 for o in ops if not o["ok"])
    report = {"ops": len(ops), "failed": failed, "failed_ratio": failed / len(ops),
              "cycles": rec["cycles"], "timed_s": timed_ms(rec) / 1000.0,
              "peak_heap_mb": rec["peak_heap_mb"]}
    for kind, xs in (("op", lat),
                     ("read", [x for x, o in zip(lat, ops) if o["kind"] == "read"]),
                     ("write", [x for x, o in zip(lat, ops) if o["kind"] == "write"])):
        if xs:
            tt = tail(xs)
            report[kind] = {"p50_s": statistics.median(xs), "n": len(xs),
                            "tail": tt}
    if "space_amp" in rec["facts"]:
        report["space_amp"] = rec["facts"]["space_amp"]
    return m, report


def per_layer(rec):
    """Per-layer metrics over the traced operations of a traced run."""
    ops = rec["ops"]
    traced = [o for o in ops if o["traced"]]
    traced_ids = {o["id"] for o in traced}
    jobs = [j for j in rec["jobs"] if j["op"] in traced_ids]
    spans = with_job_spans([s for s in rec["spans"] if s["op"] in traced_ids], jobs)
    st = self_times(spans)
    cores = rec["cores"]

    def span_mean(name):
        """Self time of `name` per traced op that has such a span."""
        hits = [s for s in spans if s["name"] == name]
        nops = len({s["op"] for s in hits})
        return sum(st[s["id"]] for s in hits) / 1000.0 / nops if nops else 0.0

    def jobs_in(name):
        hosts = {s["op"] for s in spans if s["name"] == name}
        n = sum(1 for j in jobs if j.get("in") == name and MODEL_SITE not in j["site"])
        return n / len(hosts) if hosts else 0.0

    def extra_mean(key, scale=1.0):
        xs = [o["extra"][key] for o in traced if key in o["extra"]]
        return sum(xs) / len(xs) / scale if xs else 0.0

    def extra_sum(key):
        return sum(o["extra"].get(key, 0.0) for o in traced)

    n = max(1, len(traced))
    wall = sum(o["end"] - o["start"] for o in traced)
    model_jobs = [j for j in jobs if MODEL_SITE in j["site"]]
    written = extra_sum("bytes_written")
    changed = extra_sum("rows_changed") * rec["facts"].get("fresh_bytes_per_row", 0.0)
    probed = extra_sum("probed")

    # share of traced op wall inside named spans, scaled by the share of the
    # timed wall spent inside operations at all
    covered = 0.0
    for o in traced:
        top = [(s["start"], s["end"]) for s in spans
               if s["op"] == o["id"] and s["parent"] == -1]
        covered += union_length(top, o["start"], o["end"])
    in_ops = sum(o["end"] - o["start"] for o in ops)
    timed = timed_ms(rec)

    m = {
        "entry.construct_s": span_mean("entry.construct"),
        "entry.construct_jobs": jobs_in("entry.construct"),
        "model.open_s": span_mean(MODEL_SPAN),
        "model.open_jobs": len(model_jobs) / n,
        "catalyst.plan_s": span_mean("catalyst.plan"),
        "exec.action_s": span_mean("exec.action"),
        "exec.tasks": sum(j["tasks"] for j in jobs) / n,
        "exec.busy_ratio": sum(j["task_ms"] for j in jobs) / (wall * cores) if wall else 0.0,
        "exec.shuffle_read_mb": sum(j["shuffle_read"] for j in jobs) / MB / n,
        "exec.shuffle_write_mb": sum(j["shuffle_write"] for j in jobs) / MB / n,
        "exec.spill_mb": sum(j["spill"] for j in jobs) / MB / n,
        "sources.extract_s": span_mean("sources.extract"),
        "ops.diff_s": span_mean("ops.diff"),
        "layout.commit_s": span_mean("layout.commit"),
        "layout.commit_jobs": jobs_in("layout.commit"),
        "layout.bytes_written_mb": extra_mean("bytes_written", MB),
        "layout.write_amp": written / changed if changed else 0.0,
        "layout.lookup_s": span_mean("layout.lookup"),
        "text.search_s": span_mean("text.search"),
        "text.search_jobs": jobs_in("text.search"),
        "text.tomb_runs": extra_mean("tomb_runs"),
        "text.delete_s": span_mean("text.delete"),
        "text.upsert_s": span_mean("text.upsert"),
        "dedup.probe_s": span_mean("dedup.probe"),
        "dedup.hit_ratio": extra_sum("near_dups") / probed if probed else 0.0,
        "cleanup.drain_s": span_mean("cleanup.drain"),
        "jvm.gc_s": sum(o["gc_ms"] for o in traced) / 1000.0 / n,
        "jvm.jit_s": sum(o["jit_ms"] for o in traced) / 1000.0 / n,
        "jvm.peak_heap_mb": rec["peak_heap_mb"],
        "trace.overhead_ratio": overhead_ratio(ops),
        "trace.coverage": (covered / wall) * (in_ops / timed) if wall and timed else 0.0,
    }
    return m


def overhead_ratio(ops):
    """Traced against untraced latency, matched by operation name: the sum
    over names of the traced median over the sum of the untraced median."""
    by = {}
    for o in ops:
        by.setdefault(o["name"], {True: [], False: []})[o["traced"]].append(
            o["end"] - o["start"])
    t = u = 0.0
    for d in by.values():
        if d[True] and d[False]:
            t += statistics.median(d[True])
            u += statistics.median(d[False])
    return t / u if u else 0.0
