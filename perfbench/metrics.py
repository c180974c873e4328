"""Turn one run's raw samples (the `PERFBENCH_RAW` record printed by
`perfbench.Main`) into the reported metrics.

End-to-end metrics come from the untraced window, per-layer metrics from
the traced window and probes of a `--trace 1` run.
"""

import math

# name -> unit; the same lists, with direction and bounds, are in
# BENCHMARK.json at the repository root.
END_TO_END = {
    "setup_s": "s",
    "build_s": "s",
    "kind_p50_sum_ms": "ms",
    "peak_rss_mb": "MB",
    "store_bytes_per_input_byte": "ratio",
}

PER_LAYER = {
    "vcf.VcfReader.parse_s": "s",
    "vcf.VcfBuild.withVariantIds_s": "s",
    "vcf.VcfTables.write.variant_info_s": "s",
    "vcf.VcfTables.write.variant_impact_s": "s",
    "vcf.VcfTables.write.variant_geno_s": "s",
    "vcf.VcfTables.write.output_bytes": "bytes",
    "build.shuffle_write_bytes": "bytes",
    "build.spill_bytes": "bytes",
    "build.gc_ms": "ms",
    "vcf.VcfApi.buildGeneIndex_s": "s",
    "vcf.VcfReader.readRange.partitions": "count",
    "op.plan_ms": "ms",
    "op.sched_wait_ms": "ms",
    "op.exec_ms": "ms",
    "op.tasks": "count",
    "op.bytes_read": "bytes",
    "op.shuffle_write_bytes": "bytes",
    "op.spill_bytes": "bytes",
    "op.gc_ms": "ms",
    "op.rows_scanned_per_row_returned": "ratio",
    "trace_overhead_ratio": "ratio",
}

# op-trace field behind each `op.*` metric
OP_FIELDS = {
    "op.plan_ms": "plan_ms",
    "op.sched_wait_ms": "sched_wait_ms",
    "op.exec_ms": "exec_ms",
    "op.tasks": "tasks",
    "op.bytes_read": "bytes_read",
    "op.shuffle_write_bytes": "shuffle_write_bytes",
    "op.spill_bytes": "spill_bytes",
    "op.gc_ms": "gc_ms",
}



def percentile(values, p):
    """The p-th percentile (0 < p < 100), linear interpolation between
    closest ranks (Python's `statistics.quantiles(method="inclusive")`).
    """
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    if len(xs) == 1:
        return xs[0]
    h = (len(xs) - 1) * p / 100.0
    lo = math.floor(h)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (h - lo) * (xs[hi] - xs[lo])


def median(values):
    return percentile(values, 50)


def tail_percentile(n, ladder=(50, 90, 95, 99, 99.9)):
    """Highest percentile of `ladder` with at least ten samples beyond
    it, or None when even the median has fewer than ten above it.
    """
    best = None
    for p in ladder:
        if n * (100 - p) / 100.0 >= 10:
            best = p
    return best


def latencies(ops, window_s):
    """Op latencies. A failed op counts as missing any latency limit: it
    reads as at least the whole measured window.
    """
    return [o["ms"] if o["ok"] else max(o["ms"], window_s * 1000.0) for o in ops]


def operations(ops, window_s):
    """End-to-end operations: the samples of one group summed (a `lookup`
    query, or a `cohort` battery of five reports). Returns their latencies
    and how many succeeded."""
    groups = {}
    for o in ops:
        ms, ok = groups.get(o["group"], (0.0, True))
        groups[o["group"]] = (ms + o["ms"], ok and o["ok"])
    return latencies([{"ms": ms, "ok": ok} for ms, ok in groups.values()], window_s), \
        sum(1 for _, ok in groups.values() if ok)


def summarize_kind(ops, window_s):
    ms = latencies(ops, window_s)
    tail = tail_percentile(len(ms))
    out = {"n": len(ms), "failed": sum(1 for o in ops if not o["ok"]),
           "p50_ms": median(ms), "p90_ms": percentile(ms, 90)}
    if tail is not None:
        out["tail_percentile"] = tail
        out["tail_ms"] = percentile(ms, tail)
    return out


def kind_p50_sum(ops, window_s):
    """Sum over operation kinds of each kind's median latency: one of each
    (`lookup`: the four query kinds; `cohort`: the five reports, so a
    typical battery). The median of the mixed latencies would fall between
    the kinds' clusters, where samples are sparse, and jump from run to
    run."""
    kinds = {}
    for o in ops:
        kinds.setdefault(o["kind"], []).append(o)
    return sum(median(latencies(v, window_s)) for v in kinds.values())


def end_to_end(raw):
    return {
        "setup_s": median(raw["setup_s"]),
        "build_s": median(raw["build_s"]),
        "kind_p50_sum_ms": kind_p50_sum(raw["ops"], raw["window_s"]),
        "peak_rss_mb": raw["peak_rss_mb"],
        "store_bytes_per_input_byte": raw["store_bytes"] / raw["input_bytes"],
    }


def _med(xs, default=0.0):
    xs = list(xs)
    return median(xs) if xs else default


def per_layer(raw):
    layers = raw["layers"]
    traces = raw["op_traces"]
    served = [t for t in traces if not t["kind"].startswith("probe.")]
    builds = [t for t in traces if t["kind"] == "probe.build"]
    out = {}
    for name in ("vcf.VcfReader.parse_s", "vcf.VcfBuild.withVariantIds_s",
                 "vcf.VcfTables.write.variant_info_s",
                 "vcf.VcfTables.write.variant_impact_s",
                 "vcf.VcfTables.write.variant_geno_s",
                 "vcf.VcfTables.write.output_bytes",
                 "vcf.VcfApi.buildGeneIndex_s",
                 "vcf.VcfReader.readRange.partitions"):
        out[name] = _med(layers.get(name, []))
    out["build.shuffle_write_bytes"] = _med(t["shuffle_write_bytes"] for t in builds)
    out["build.spill_bytes"] = _med(t["spill_bytes"] for t in builds)
    out["build.gc_ms"] = _med(t["gc_ms"] for t in builds)
    for name, field in OP_FIELDS.items():
        out[name] = _med(t[field] for t in served)
    out["op.rows_scanned_per_row_returned"] = _med(
        t["records_read"] / max(t["rows_returned"], 1) for t in served)
    out["trace_overhead_ratio"] = (
        kind_p50_sum(raw["traced_ops"], raw["traced_window_s"]) /
        kind_p50_sum(raw["ops"], raw["window_s"]))
    return out


def detail(raw):
    """Per-kind breakdown (printed before the result line)."""
    kinds = {}
    for o in raw["ops"]:
        kinds.setdefault(o["kind"], []).append(o)
    ms, ok = operations(raw["ops"], raw["window_s"])
    d = {"workload": raw["workload"], "seed": raw["seed"],
         "operations": summarize_kind([{"ms": m, "ok": True} for m in ms], raw["window_s"]),
         "ops_per_s": ok / raw["window_s"], "window_s": raw["window_s"],
         "setup_s": raw["setup_s"], "build_s": raw["build_s"], "genes": raw["genes"],
         "max_gene": raw["max_gene"],
         "kinds": {k: summarize_kind(v, raw["window_s"]) for k, v in sorted(kinds.items())}}
    if raw.get("op_traces"):
        by_kind = {}
        for t in raw["op_traces"]:
            by_kind.setdefault(t["kind"], []).append(t)
        d["traced_kinds"] = {
            k: {f: _med(t[f] for t in ts)
                for f in ("wall_ms", "plan_ms", "sched_wait_ms", "exec_ms", "tasks",
                          "bytes_read", "records_read", "rows_returned",
                          "shuffle_write_bytes", "spill_bytes", "gc_ms")}
            for k, ts in sorted(by_kind.items())}
        d["trace_file"] = raw.get("trace_file")
    if raw.get("failure_notes"):
        d["failure_notes"] = raw["failure_notes"]
    return d


def result(raw, trace):
    """The result line: correct/attempted/failed plus the metrics."""
    values = per_layer(raw) if trace else end_to_end(raw)
    units = PER_LAYER if trace else END_TO_END
    metrics = {name: {"value": float(values[name]), "unit": unit}
               for name, unit in units.items()}
    failed = int(raw["failed"])
    attempted = max(int(raw["attempted"]), 1)
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": metrics}
