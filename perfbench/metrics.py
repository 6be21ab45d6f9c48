"""Turns one run's raw records (results.json, spans.jsonl) into metrics.

End-to-end metrics come from untraced cells; per-layer metrics from the
spans of traced cells. Per-layer metrics are keyed by class and query as
the run meets them; run.py prints the ones BENCHMARK.json names."""
import json
import os
from collections import defaultdict

from stats import median, tail

# The metric names, units and bounds the run prints are BENCHMARK.json's.
with open(os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                       "BENCHMARK.json")) as _f:
    BENCH = json.load(_f)

# Which end-to-end metric each layer should move, and on which workload.
LAYER_MAP = {
    "PlanFingerprint": "plan_fp.* -> hit_call_ms, skip_call_ms (notebook_rerun)",
    "Freshness": "freshness.* -> hit_call_ms, skip_call_ms (notebook_rerun); miss_call_ms (ingest_refresh)",
    "CacheMetadata": "metadata.ms -> no gain expected",
    "CacheIO lookup": "lookup.* -> hit_call_ms",
    "Complexity": "complexity.ms -> skip_call_ms, miss_call_ms; never hit_call_ms",
    "CacheIO write": "write.* -> miss_call_ms, fresh_result_ms, cache_stored_mb (ingest_refresh); cell_ms of re-reads",
    "DirectData": "direct_hash.* -> direct_hit_ms, direct_miss_ms",
    "AutoSubstitute": "autosub.* -> cell_ms of derived cells (notebook_rerun)",
    "Management": "mgmt.* -> cache_stored_mb, ingest_refresh tails",
    "Spark / graft.operators": "spark.*, op.* -> op_iterative_s (jobs), op_rowwise_s (CPU), cell_ms",
}


def measured(cells):
    """Cells run after the workload's warm-up."""
    return [c for c in cells if c["measured"]]


def _ok(cells, **match):
    return [c for c in cells if c["ok"] and all(c.get(k) == v for k, v in match.items())]


def _slots(workload, cells):
    """A pass's cell slots (class and expected kind): for each, the runs
    per pass (once, except in ingest_refresh's versions) and the medians of
    cell_ms and call_ms over its successful cells."""
    ok, runs = defaultdict(list), defaultdict(int)
    for c in cells:
        slot = (c["cls"], c["expected"])
        runs[slot] += 1
        if c["ok"]:
            ok[slot].append(c)
    passes = len({c["pass"] for c in cells}) or 1
    return {s: (runs[s] / passes if workload == "ingest_refresh" else 1,
                median([c["cell_ms"] for c in v]), median([c["call_ms"] for c in v]))
            for s, v in ok.items()}


def _pass_s(slots, i):
    """Seconds of one pass: the sum over its slots of the median times the
    runs per pass. A failed cell leaves its slot's weight alone, so
    failures do not make a pass look shorter."""
    return sum(s[0] * s[i] for s in slots.values()) / 1000.0


def end_to_end(workload, res):
    """A pass is one round of the workload's fixed cell list (for
    ingest_refresh, one version). Its time sums per-slot medians, which
    stays steady where a median over a mix of cell classes would jump
    between classes."""
    cells = measured([c for c in res["cells"] if not c["traced"]])
    passes = len({c["pass"] for c in cells})
    slots = _slots(workload, cells)
    return {
        "setup_s": (median(res["setup_s"]), "s", len(res["setup_s"])),
        "pass_s": (_pass_s(slots, 1) if cells else None, "s", passes),
        "pass_call_s": (_pass_s(slots, 2) if cells else None, "s", passes),
    }


def pass_slots(workload, res):
    """Each slot's weight in pass_s and pass_call_s: the mix the two
    metrics measure, as this run's timings make it."""
    slots = _slots(workload, measured([c for c in res["cells"] if not c["traced"]]))
    total = [sum(s[0] * s[i] for s in slots.values()) or 1.0 for i in (1, 2)]
    return {f"{cls}/{kind}": {"runs_per_pass": round(n, 3), "cell_ms": cell, "call_ms": call,
                              "share_of_pass_s": round(n * cell / total[0], 4),
                              "share_of_pass_call_s": round(n * call / total[1], 4)}
            for (cls, kind), (n, cell, call) in sorted(slots.items())}


def report(workload, res, failed, attempted):
    """Every end-to-end metric of the workload, by name, with unit and
    sample count; a metric the workload does not exercise is None.
    `failed` of `attempted` operations failed, oracle mismatches counted."""
    cells = measured([c for c in res["cells"] if not c["traced"]])

    def p50(xs, unit):
        return {"value": median(xs), "unit": unit, "n": len(xs)}

    def tl(xs, unit):
        t = tail(xs)
        return {"value": t[0] if t else None, "pct": round(t[1], 1) if t else None,
                "unit": unit, "n": len(xs)}

    calls = {k: [c["call_ms"] for c in _ok(cells, kind=k)]
             for k in ("hit", "miss", "skip", "direct_hit", "direct_miss")}
    cell_ms = [c["cell_ms"] for c in cells if c["ok"]]
    per_query = defaultdict(list)
    for c in _ok(cells, kind="op"):
        per_query[(c["family"], c["cls"])].append(c["cell_ms"])
    fam = defaultdict(float)
    for (family, _), xs in per_query.items():
        fam[family] += median(xs) / 1000.0
    return {
        "setup_s": p50(res["setup_s"], "s"),
        "hit_call_ms.p50": p50(calls["hit"], "ms"),
        "hit_call_ms.tail": tl(calls["hit"], "ms"),
        "cell_ms.p50": p50(cell_ms, "ms"),
        "cell_ms.tail": tl(cell_ms, "ms"),
        "skip_call_ms.p50": p50(calls["skip"], "ms"),
        "direct_hit_ms.p50": p50(calls["direct_hit"], "ms"),
        "direct_miss_ms.p50": p50(calls["direct_miss"], "ms"),
        "miss_call_ms.p50": p50(calls["miss"], "ms"),
        "miss_call_ms.tail": tl(calls["miss"], "ms"),
        "fresh_result_ms.p50": p50(res["fresh_ms"], "ms"),
        "cache_stored_mb": {"value": res["cache_stored_bytes"] / 1048576.0, "unit": "MB", "n": 1},
        "op_iterative_s": {"value": fam.get("iterative"), "unit": "s", "n": 1},
        "op_rowwise_s": {"value": fam.get("rowwise"), "unit": "s", "n": 1},
        "failed_ops_ratio": {"value": failed / max(1, attempted), "unit": "ratio",
                             "n": attempted},
        "wrong_hits": {"value": res["wrong_hits"], "unit": "count", "n": len(res["cells"])},
    }


# --- traced runs ------------------------------------------------------------

LAYER_SPANS = {
    "plan_fp": ("plan_fp", "plan_fp.guards"),
    "freshness": ("freshness",),
    "metadata": ("metadata",),
    "lookup": ("lookup", "lookup.read"),
    "complexity": ("complexity",),
    "direct_hash": ("direct_hash",),
    "autosub": ("autosub.analyze",),
    "mgmt": ("mgmt.list", "mgmt.clear"),
}


def _self_ms(span, children):
    return (span["t1"] - span["t0"] - sum(c["t1"] - c["t0"] for c in children)) / 1e6


def per_layer(workload, res, spans):
    cells = {c["id"]: c for c in measured(res["cells"])}
    traced = {i: c for i, c in cells.items() if c["traced"]}
    per_cell = defaultdict(list)
    for s in spans:
        if s["cell"] in traced:
            per_cell[s["cell"]].append(s)
    layer = defaultdict(list)      # layer -> per-call self ms
    attrs = defaultdict(list)      # (span name, attr) -> values
    by_class = defaultdict(list)   # (cls, what) -> values
    spark = defaultdict(list)
    call_layer_sum = defaultdict(list)
    for cid, ss in per_cell.items():
        kids = defaultdict(list)
        for s in ss:
            kids[s["parent"]].append(s)
        sums = defaultdict(float)
        for s in ss:
            self_ms = _self_ms(s, kids[s["id"]])
            for name, members in LAYER_SPANS.items():
                if s["name"] in members:
                    sums[name] += self_ms
            if s["name"] == "write":
                layer["write"].append((s["t1"] - s["t0"]) / 1e6)
            if s["name"] in ("write.table", "write.sidecar", "write.reread"):
                sums[s["name"]] += (s["t1"] - s["t0"]) / 1e6
            if s["name"] in ("spark.action", "op.exec"):
                spark["exec_ms"].append((s["t1"] - s["t0"]) / 1e6)
            for k, v in s["attrs"].items():
                attrs[(s["name"], k)].append(v)
            if s["name"] == "plan_fp":
                by_class[(traced[cid]["cls"], "chars")].append(s["attrs"].get("chars", 0))
            if s["name"] == "call":
                call_layer_sum[(traced[cid]["cls"], traced[cid]["kind"])].append(
                    (s["t1"] - s["t0"]) / 1e6 - _self_ms(s, kids[s["id"]]))
            if s["name"] == "cell":
                for k in ("jobs", "task_cpu_s", "shuffle_mb", "spill_mb"):
                    spark[k].append(s["attrs"].get(k, 0.0))
        for name, v in sums.items():
            layer[name].append(v)
            if name == "plan_fp":
                by_class[(traced[cid]["cls"], "ms")].append(v)

    def med(xs):
        return median(xs) if xs else 0.0

    def mean(xs):
        return sum(xs) / len(xs) if xs else 0.0

    def ratio(xs):
        return sum(xs) / len(xs) if xs else 0.0

    direct_rate = [r / ((s["t1"] - s["t0"]) / 1e9) for s in spans
                   if s["name"] == "direct_hash" and s["cell"] in traced
                   for r in [s["attrs"].get("rows", 0)]]
    out = {
        "plan_fp.ms": med(layer["plan_fp"]),
        "plan_fp.chars": med(attrs[("plan_fp", "chars")]),
        "freshness.ms": med(layer["freshness"]),
        "freshness.dirs": med(attrs[("freshness", "dirs")]),
        "freshness.files": med(attrs[("freshness", "files")]),
        "metadata.ms": med(layer["metadata"]),
        "lookup.ms": med(layer["lookup"]),
        "lookup.hit_ratio": ratio(attrs[("lookup", "hit")]),
        "complexity.ms": med(layer["complexity"]),
        "write.ms": med(layer["write"]),
        "write.table_ms": med(layer["write.table"]),
        "write.sidecar_ms": med(layer["write.sidecar"]),
        "write.bytes": med(attrs[("write", "bytes")]),
        "write.files": med(attrs[("write", "files")]),
        "direct_hash.ms": med(layer["direct_hash"]),
        "direct_hash.rows_per_s": med(direct_rate),
        "autosub.analyze_ms": med(layer["autosub"]),
        "autosub.substitution_ratio": res.get("substitution_ratio", 0.0),
        "mgmt.ms": med(layer["mgmt"]),
        "mgmt.entries": med(attrs[("mgmt.list", "entries")]),
        "spark.exec_ms": med(spark["exec_ms"]),
        "spark.jobs": mean(spark["jobs"]),
        "spark.task_cpu_s": mean(spark["task_cpu_s"]),
        "spark.shuffle_mb": mean(spark["shuffle_mb"]),
        "spark.spill_mb": mean(spark["spill_mb"]),
    }
    for (cls, what), xs in by_class.items():
        out[f"plan_fp.{what}.{cls}"] = med(xs)
    cell_attrs = {s["cell"]: s["attrs"] for s in spans if s["name"] == "cell"}
    for q in sorted({c["cls"] for c in traced.values() if c["kind"] == "op"}):
        qc = [c for c in traced.values() if c["cls"] == q and c["ok"]]
        out[f"op.{q}.s"] = med([c["cell_ms"] / 1000.0 for c in qc])
        out[f"op.{q}.jobs"] = med([cell_attrs.get(c["id"], {}).get("jobs", 0.0) for c in qc])
        out[f"op.{q}.cpu_s"] = med([cell_attrs.get(c["id"], {}).get("task_cpu_s", 0.0)
                                    for c in qc])

    # Tracing overhead and the unattributed remainder, both against the
    # untraced cells of the same run, matched by (class, kind).
    plain = defaultdict(list)
    plain_call = defaultdict(list)
    traced_cell = defaultdict(list)
    for c in cells.values():
        if c["ok"]:
            key = (c["cls"], c["kind"])
            (traced_cell if c["traced"] else plain)[key].append(c["cell_ms"])
            if not c["traced"]:
                plain_call[key].append(c["call_ms"])
    common = [k for k in traced_cell if k in plain]
    base = sum(median(plain[k]) for k in common)
    out["trace.overhead_ratio"] = (
        sum(median(traced_cell[k]) for k in common) / base - 1.0 if base else 0.0)
    gaps = [median(plain_call[k]) - median(v) for k, v in call_layer_sum.items()
            if k in plain_call]
    out["trace.unattributed_ms"] = med(gaps)
    return out
