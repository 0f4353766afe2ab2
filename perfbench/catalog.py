"""Every metric the benchmark reports, with its unit.

``BENCHMARK.json`` at the repository root declares the same lists (the
benchmark's own tests hold the two equal). A traced run reports every
per-layer metric on every workload, 0 where the layer is not reached;
an untraced run reports every end-to-end metric.
"""

from __future__ import annotations

import re

from eventlog import SPARK_METRICS

WORKLOADS = ("fleet_sweep", "commit_stream", "query_mix")

#: query_mix's fixed pass: registry query -> operator module
QUERIES = {
    "corpus_health_report": "text",
    "q1_pricing_summary": "relational",
    "events_tumbling": "events",
    "cosine_topk": "similarity",
    "weighted_sample": "sampling",
    "pii_scan": "pii",
    "key_skew_report": "skew",
    "dedup_exact": "dedup",
}

#: name -> (unit, better, bound)
END_TO_END = {
    "setup_s": ("s", "lower", 0.25),
    "wall_s": ("s", "lower", 0.25),
    "read_p50_ms": ("ms", "lower", 0.25),
    "append_p50_ms": ("ms", "lower", 0.25),
    "delete_p50_ms": ("ms", "lower", 0.25),
    "query_gmean_ms": ("ms", "lower", 0.25),
    "write_amp": ("ratio", "lower", 0.05),
    "space_amp": ("ratio", "lower", 0.05),
    "peak_rss_mb": ("MB", "lower", 0.15),
}

_LAYER = [
    ("orchestrator.run_s", "s"),
    ("orchestrator.self_s", "s"),
    ("orchestrator.overlap", "ratio"),
    ("schedule.read_s", "s"),
    ("schedule.write_s", "s"),
    ("schedule.writes", "count"),
    ("lake.optimize.s", "s"),
    ("lake.optimize.n", "count"),
    ("lake.expire_snapshots.s", "s"),
    ("lake.expire_snapshots.n", "count"),
    ("lake.remove_orphan_files.s", "s"),
    ("lake.remove_orphan_files.n", "count"),
    ("lake.orphans_removed_ratio", "ratio"),
    ("lake.files_after", "count"),
    ("lake.append.s", "s"),
    ("lake.append.n", "count"),
    ("lake.append.p50_ms", "ms"),
    ("lake.append.p90_ms", "ms"),
    ("lake.append.growth", "ratio"),
    ("lake.delete_where.s", "s"),
    ("lake.delete_where.n", "count"),
    ("lake.delete_where.p50_ms", "ms"),
    ("lake.delete_where.p90_ms", "ms"),
    ("lake.meta_bytes_written", "bytes"),
    ("lake.journal_entries", "count"),
    ("lake.read.n", "count"),
    ("lake.read.plan_ms", "ms"),
    ("lake.read.exec_ms", "ms"),
    ("lake.read.p90_ms", "ms"),
    ("lake.read.growth", "ratio"),
    ("lake.deletes_pending", "count"),
    ("plans.stats.analyze_s", "s"),
]
_LAYER += [(f"operators.{m}.s", "s") for m in sorted(set(QUERIES.values()))]
_LAYER += [(f"query.{q}.s", "s") for q in QUERIES]
_LAYER += list(SPARK_METRICS)
_LAYER += [
    ("fs.bytes_written", "bytes"),
    ("fs.files_created", "count"),
    ("fs.files_deleted", "count"),
    ("trace.overhead", "ratio"),
]

#: name -> unit
PER_LAYER = dict(_LAYER)

NAME_RE = re.compile(r"[A-Za-z0-9_.-]+")


def full_layer(found: dict[str, float]) -> dict[str, dict]:
    """Every declared per-layer metric: measured values where the
    layer was reached, 0 elsewhere."""
    unknown = set(found) - set(PER_LAYER)
    if unknown:
        raise KeyError(f"undeclared per-layer metrics: {sorted(unknown)}")
    return {
        name: {"value": float(found.get(name, 0.0)), "unit": unit}
        for name, unit in PER_LAYER.items()
    }
