"""Turns the benchmark JVM's raw measurements into the benchmark's metrics.

End-to-end metrics come from the untraced window. Per-layer metrics come
from the traced window: Spark jobs are attributed to the innermost span
open at their submission time (spans never overlap, so this holds for
jobs submitted from any thread), stages to the job that lists them, and
task metrics to their stage.
"""
import math
import statistics

END_TO_END = [  # (name, unit)
    ("setup_s", "s"),
    ("op_best_s", "s"),
    ("peak_heap_mb", "MB"),
]
# printed, not declared: the uncorrected walls, and CPU time, which host
# steal inflated more than the corrected wall (NOTES.md, "End-to-end")
WALL = [("throughput_per_s", "1/s"), ("op_p50_raw_s", "s"), ("cpu_s_per_op", "s")]

SPANS = [
    "corpus", "textprep", "extract", "extract.sets", "cluster",   # build
    "cluster.candidates", "cluster.cc", "cluster.graph",          # canon
    "queries.eager", "queries.action",                            # sweep
]
SPAN_STATS = [  # (stat, unit)
    ("wall_s", "s"), ("self_s", "s"), ("driver_s", "s"), ("cpu_s", "s"), ("shuffle_mb", "MB"),
    ("spill_mb", "MB"), ("peak_task_mem_mb", "MB"), ("task_skew", "ratio"), ("jobs", "count"),
    ("tasks", "count"),
]
FAMILIES = ["kg", "dedup", "text", "events", "ann_emb", "other"]
EXTRA_LAYER = [
    ("cluster.cc_iter_jobs", "count"),
    ("cluster.graph.cc_iter_jobs", "count"),
    ("cluster.candidate_pairs", "count"),
    ("cluster.useful_pair_ratio", "ratio"),
    ("cluster.rep_rewrite_s", "s"),
    ("plans.topk_rewrites", "count"),
    ("core_util", "ratio"),
    ("trace_overhead_s", "s"),
] + [(f"family.{f}.wall_s", "s") for f in FAMILIES]
PER_LAYER = [(f"{s}.{st}", u) for s in SPANS for st, u in SPAN_STATS] + EXTRA_LAYER

# the span whose wall is comparable with one untraced operation
EQUIVALENT_SPAN = {"build": "build", "canon": "cluster.graph", "sweep": "sweep"}
# call sites of the iteration jobs of ConnectedComponents.run
CC_SITE = "ConnectedComponents.scala"


def tail_percentile(n):
    """Highest whole percentile with at least ten of n samples beyond it,
    or None when n is too small to have one."""
    p = math.floor(100 * (1 - 10 / n)) if n > 10 else 0
    return p if p >= 50 else None


def percentile(values, p):
    """Nearest-rank percentile."""
    s = sorted(values)
    return s[max(0, math.ceil(p / 100 * len(s)) - 1)]


def tail(values):
    """(percentile label, value): the tail percentile of the samples, or
    their maximum when there are too few samples for one."""
    p = tail_percentile(len(values))
    return ("max", max(values)) if p is None else (f"p{p}", percentile(values, p))


def covered(intervals, lo, hi):
    """Length of [lo, hi] covered by the union of the intervals."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_time(span, children):
    """A span's duration minus the part of it its child spans cover (ms)."""
    lo, hi = span["start_ms"], span["end_ms"]
    return (hi - lo) - covered([(c["start_ms"], c["end_ms"]) for c in children], lo, hi)


def skew(durations_ms):
    """max / median task time of one stage (median floored at 1 ms)."""
    if len(durations_ms) < 2:
        return 1.0
    return max(durations_ms) / max(statistics.median(durations_ms), 1.0)


def attribute_jobs(spans, jobs):
    """job id -> id of the innermost span open at its submission."""
    out = {}
    for j in jobs:
        t = j["submit_ms"]
        best = None
        for s in spans:
            if s["start_ms"] - 1 <= t <= s["end_ms"] + 1 and (best is None or s["start_ms"] >= best["start_ms"]):
                best = s
        if best is not None:
            out[j["id"]] = best["id"]
    return out


def span_stats(spans, jobs, stages):
    """Inclusive stats of every span, keyed by span id."""
    by_id = {s["id"]: s for s in spans}
    children = {s["id"]: [] for s in spans}
    for s in spans:
        if s["parent"] in children:
            children[s["parent"]].append(s)
    owner = attribute_jobs(spans, jobs)
    stage_job = {}
    for j in jobs:
        for sid in j["stage_ids"]:
            stage_job.setdefault(sid, j["id"])
    stages_of = {}
    for st in stages:
        stages_of.setdefault(stage_job.get(st["id"]), []).append(st)
    # every job counts for its span and all enclosing spans
    span_jobs = {s["id"]: [] for s in spans}
    for j in jobs:
        sid = owner.get(j["id"])
        while sid in by_id:
            span_jobs[sid].append(j)
            sid = by_id[sid]["parent"]
    job_windows = [(j["submit_ms"], j["end_ms"]) for j in jobs if j["end_ms"] >= 0]
    out = {}
    for s in spans:
        lo, hi = s["start_ms"], s["end_ms"]
        sts = [st for j in span_jobs[s["id"]] for st in stages_of.get(j["id"], [])]
        out[s["id"]] = {
            "wall_s": (hi - lo) / 1e3,
            "self_s": self_time(s, children[s["id"]]) / 1e3,
            "driver_s": ((hi - lo) - covered(job_windows, lo, hi)) / 1e3,
            "cpu_s": sum(st["cpu_ns"] for st in sts) / 1e9,
            "shuffle_mb": sum(st["shuffle_write_bytes"] for st in sts) / 2**20,
            "spill_mb": sum(st["spill_bytes"] for st in sts) / 2**20,
            "peak_task_mem_mb": max([st["peak_mem_bytes"] for st in sts], default=0) / 2**20,
            "task_skew": max([skew(st["durations_ms"]) for st in sts], default=0.0),
            "jobs": len(span_jobs[s["id"]]),
            "tasks": sum(st["tasks"] for st in sts),
            "cc_iter_jobs": sum(1 for j in span_jobs[s["id"]] if CC_SITE in j.get("site", "")),
        }
    return out


MAX_STATS = {"peak_task_mem_mb", "task_skew"}


def per_op(spans, stats):
    """{op: {span name: stats summed over that op's spans of that name}}."""
    out = {}
    for s in spans:
        agg = out.setdefault(s["op"], {}).setdefault(s["name"], {})
        for k, v in stats[s["id"]].items():
            agg[k] = max(agg.get(k, 0), v) if k in MAX_STATS else agg.get(k, 0) + v
    return out


def med(values):
    return statistics.median(values) if values else 0.0


def layer_metrics(raw):
    tr = raw["traced"]
    spans, ops = tr["spans"], tr["ops"]
    stats = span_stats(spans, tr["jobs"], tr["stages"])
    by_op = per_op(spans, stats)
    op_ids = sorted(by_op)
    m = {}
    for s in SPANS:
        for st, _ in SPAN_STATS:
            m[f"{s}.{st}"] = med([by_op[o][s][st] for o in op_ids if s in by_op[o]])
    m["cluster.cc_iter_jobs"] = med([by_op[o]["cluster"]["cc_iter_jobs"] for o in op_ids if "cluster" in by_op[o]])
    m["cluster.graph.cc_iter_jobs"] = med(
        [by_op[o]["cluster.graph"]["cc_iter_jobs"] for o in op_ids if "cluster.graph" in by_op[o]])
    m["cluster.rep_rewrite_s"] = med([
        by_op[o]["cluster.graph"]["wall_s"] - by_op[o]["cluster.candidates"]["wall_s"]
        - by_op[o]["cluster.cc"]["wall_s"]
        for o in op_ids if "cluster.graph" in by_op[o]])
    counts = [op["counts"] for op in ops]
    m["cluster.candidate_pairs"] = med([c["candidate_pairs"] for c in counts if "candidate_pairs" in c])
    m["cluster.useful_pair_ratio"] = med([(c["forms"] - c["clusters"]) / c["candidate_pairs"]
                                          for c in counts if c.get("candidate_pairs")])
    m["plans.topk_rewrites"] = med([c["topk_rewrites"] for c in counts if "topk_rewrites" in c])
    roots = [stats[s["id"]] for s in spans if s["parent"] == -1]
    m["core_util"] = sum(r["cpu_s"] for r in roots) / (sum(r["wall_s"] for r in roots) * raw["cores"])
    equiv = EQUIVALENT_SPAN[raw["workload"]]
    m["trace_overhead_s"] = (med([by_op[o][equiv]["wall_s"] for o in op_ids if equiv in by_op[o]])
                             - med([op["wall_s"] for op in tr["plain_ops"]]))
    for f in FAMILIES:
        m[f"family.{f}.wall_s"] = med([
            sum((s["end_ms"] - s["start_ms"]) / 1e3 for s in spans
                if s["op"] == o and s["name"] == "query" and s["tag"].split("/")[0] == f)
            for o in op_ids]) if raw["workload"] == "sweep" else 0.0
    return m


def granted(op):
    """Share of the machine's CPU demand during an operation that the host
    granted: busy / (busy + stolen) ticks; 1 when nothing was measured."""
    demand = op["busy_ticks"] + op["stolen_ticks"]
    return op["busy_ticks"] / demand if demand > 0 else 1.0


def end_to_end(raw):
    ops = raw["untraced"]["ops"]
    wall = sum(op["wall_s"] for op in ops)
    setup = raw["setup"]
    return {
        "setup_s": setup["session_s"] + setup["inputs_s"] + statistics.median(setup["prep_s"]) + setup["warmup_s"],
        "throughput_per_s": sum(op["items"] for op in ops) / wall,
        "op_best_s": min(op["wall_s"] * granted(op) for op in ops),
        "op_p50_raw_s": statistics.median(op["wall_s"] for op in ops),
        "cpu_s_per_op": statistics.median(op["cpu_s"] for op in ops),
        "peak_heap_mb": raw["untraced"]["peak_heap_mb"],
    }


def result(raw, traced):
    tr = raw.get("traced") or {}
    timed = raw["untraced"]["ops"] + tr.get("ops", []) + tr.get("plain_ops", [])
    checks = raw["checks"]
    attempted = sum(len(op["samples"]) for op in timed) + len(checks)
    failed = sum(op["failed"] for op in timed) + sum(1 for c in checks if not c["ok"])
    names = PER_LAYER if traced else END_TO_END
    values = layer_metrics(raw) if traced else end_to_end(raw)
    return {
        "correct": failed == 0 and raw["warmup_failed"] == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {n: {"value": values[n], "unit": u} for n, u in names},
    }


# what each wall-clock figure is on each workload
ALIASES = {
    "build": {"throughput_per_s": "build_docs_per_s", "op_p50_raw_s": "build_job_p50_s"},
    "canon": {"throughput_per_s": "canon_forms_per_s", "op_p50_raw_s": "canon_pass_p50_s"},
    "sweep": {"throughput_per_s": "sweep_queries_per_s", "op_p50_raw_s": "sweep_total_s, one panel pass"},
}
# what the rows each operation produces are on each workload
ROWS = {"build": "build_triples_per_s", "canon": "canon_triples_per_s", "sweep": "sweep_rows_per_s"}


def summary(raw, res):
    """Human-readable lines: every metric with its unit, the failure rate
    and every check."""
    w = raw["workload"]
    ops = raw["untraced"]["ops"]
    samples = [x for op in ops for x in op["samples"]]
    st = raw["setup"]
    lines = [f"# workload {w} seed {raw['seed']} cores {raw['cores']}: {len(ops)} timed operations, "
             f"{len(samples)} latency samples; operation walls "
             + ", ".join(f"{op['wall_s']:.3f}" for op in ops) + " s, host granted "
             + ", ".join(f"{100 * granted(op):.1f}" for op in ops) + "% of CPU demand",
             f"# set-up: session {st['session_s']:.3f} s, inputs {st['inputs_s']:.3f} s, program set-up "
             f"{', '.join(f'{x:.3f}' for x in st['prep_s'])} s, warm-up operation {st['warmup_s']:.3f} s"]
    for name, m in res["metrics"].items():
        lines.append(f"#   {name:<34} {m['value']:>14.6g} {m['unit']}")
    e2e = end_to_end(raw)
    if set(res["metrics"]) != {n for n, _ in END_TO_END}:
        for name, unit in END_TO_END:
            lines.append(f"#   {name:<34} {e2e[name]:>14.6g} {unit}")
    for name, unit in WALL:
        alias = f"   ({ALIASES[w][name]})" if name in ALIASES[w] else ""
        lines.append(f"#   {name:<34} {e2e[name]:>14.6g} {unit}{alias}")
    rows = sum(op["rows"] for op in ops) / sum(op["wall_s"] for op in ops)
    lines.append(f"#   {ROWS[w]:<34} {rows:>14.6g} 1/s")
    if w == "sweep":
        label, value = tail(samples)
        lines.append(f"#   {'sweep_query_p50_s':<34} {med(samples):>14.6g} s   (of {len(samples)} queries)")
        lines.append(f"#   {'sweep_query_tail_s (' + label + ')':<34} {value:>14.6g} s")
    lines.append(f"#   failed_ops                         {res['failed'] / res['attempted']:>14.6g} "
                 f"({res['failed']} of {res['attempted']})")
    for c in raw["checks"]:
        lines.append(f"#   check {c['name']}: {'ok' if c['ok'] else 'FAILED'}: {c['detail']}")
    return lines


def select_panel(queries, budget_s, required=()):
    """The sweep panel, from measured times of a pass over the whole
    registry ([{"name", "family", "wall_s", ...}]). Each family gets a
    share of `budget_s` in proportion to its share of the pass time. It
    takes its `required` queries first, then its slowest other queries
    that still fit into its share, slowest first; a family left with
    nothing takes its fastest query. Returns the picked queries, family
    by family."""
    total = sum(q["wall_s"] for q in queries)
    panel = []
    for fam in sorted({q["family"] for q in queries}):
        qs = sorted((q for q in queries if q["family"] == fam), key=lambda q: (-q["wall_s"], q["name"]))
        share = budget_s * sum(q["wall_s"] for q in qs) / total
        picked = [q for q in qs if q["name"] in required]
        used = sum(q["wall_s"] for q in picked)
        for q in qs:
            if q["name"] not in required and used + q["wall_s"] <= share:
                picked.append(q)
                used += q["wall_s"]
        panel += picked or qs[-1:]
    return panel
