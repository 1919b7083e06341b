"""Per-layer metrics from traced passes.

Layers are the package's modules; a traced pass names each span after the
layer whose public function it wraps (``sources.read``, ``operators.shape``,
``plans.<query>.build_s`` ...). Every metric below is reported for every
workload, as 0 where a workload does not touch the layer.
"""

from __future__ import annotations

import statistics

from perfbench.trace import Tracer
from perfbench.workloads import CATALOG_QUERIES, service_stats

PER_LAYER: dict[str, str] = {
    "annotator.stage_s": "s",
    "annotator.nlp_requests": "count",
    "annotator.nlp_connections": "count",
    "annotator.retries": "count",
    "annotator.service_p50_ms": "ms",
    "annotator.service_tail_ms": "ms",
    "annotator.service_tail_pct": "%",
    "annotator.service_samples": "count",
    "annotator.slot_util": "ratio",
    "sources.read_s": "s",
    "sources.scroll_requests": "count",
    "sources.docs_read": "count",
    "sources.schema_probe_s": "s",
    "operators.stage_s": "s",
    "operators.p3_dropped": "count",
    "operators.j1_skipped": "count",
    "operators.rows_exploded": "count",
    "operators.dedup_removed": "count",
    "sinks.write_s": "s",
    "sinks.bulk_requests": "count",
    "sinks.rows_per_bulk": "rows",
    "sinks.bulk_bytes": "bytes",
    "sinks.items_failed": "count",
    "es.stub_busy_s": "s",
    "plans.build_s": "s",
    "plans.exec_s": "s",
    "plans.spark_jobs": "count",
    "plans.leaked_rdds": "count",
    **{f"plans.{q}.{part}": "s" for q in CATALOG_QUERIES for part in ("build_s", "exec_s")},
    "jvm.heap_peak_mb": "MB",
    "jvm.old_gen_peak_mb": "MB",
    "setup.session_s": "s",
    "setup.inputs_s": "s",
    "setup.warmup_s": "s",
    "cli.preflight_s": "s",
    "trace.traced_total_s": "s",
    "trace.untraced_run_s": "s",
    "trace.overhead_frac": "ratio",
    "check.failed_frac": "ratio",
}

#: Layer time metric ← the span names whose self time it sums.
_LAYER_SPANS = {
    "annotator.stage_s": ("annotator.annotate",),
    "sources.read_s": ("sources.read", "sources.id_readback"),
    "sources.schema_probe_s": ("sources.schema_probe",),
    "operators.stage_s": ("operators.filter", "operators.antijoin", "operators.shape"),
    "sinks.write_s": ("sinks.write",),
}


def _pass_times(tr: Tracer) -> dict[str, float]:
    """One traced pass's layer times."""
    own = tr.self_times()
    out = {metric: sum(own.get(n, 0.0) for n in names) for metric, names in _LAYER_SPANS.items()}
    for q in CATALOG_QUERIES:
        for part in ("build_s", "exec_s"):
            out[f"plans.{q}.{part}"] = own.get(f"plans.{q}.{part}", 0.0)
    out["plans.build_s"] = sum(out[f"plans.{q}.build_s"] for q in CATALOG_QUERIES)
    out["plans.exec_s"] = sum(out[f"plans.{q}.exec_s"] for q in CATALOG_QUERIES)
    out["cli.preflight_s"] = sum(sp.end - sp.start for sp in tr.spans if sp.name == "cli.preflight")
    # everything the pass's top-level stages took, without the glue between
    out["trace.traced_total_s"] = sum(sp.end - sp.start for sp in tr.spans if sp.parent == 0)
    return out


def per_layer(
    traced: list[dict], tracers: list[Tracer], untraced_run_s: float, heap_peaks: list[tuple[float, float]]
) -> dict[str, tuple[float, str]]:
    """Medians over the traced passes of every per-layer metric; the JVM
    heap peaks are medians over the untraced passes, whose stage inputs
    are not persisted."""
    values: dict[str, list[float]] = {}
    samples: list[float] = []
    for counters, tr in zip(traced, tracers):
        row = dict(counters)
        samples.extend(row.pop("_service_s", []))
        row.update(_pass_times(tr))
        for k, v in row.items():
            values.setdefault(k, []).append(v)
    out = {k: statistics.median(v) for k, v in values.items()}
    out.update(service_stats(samples))
    out["jvm.heap_peak_mb"] = statistics.median(p[0] for p in heap_peaks)
    out["jvm.old_gen_peak_mb"] = statistics.median(p[1] for p in heap_peaks)
    out["trace.untraced_run_s"] = untraced_run_s
    out["trace.overhead_frac"] = out["trace.traced_total_s"] / untraced_run_s - 1.0
    return {name: (float(out.get(name, 0.0)), unit) for name, unit in PER_LAYER.items()}
