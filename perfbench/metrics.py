"""Per-layer metrics from the spans of a traced run.

Every span carries the ``phase`` it ran in and the ``job`` it belongs
to.  A metric reads the spans of one name (or one layer) from the best
phase that has any: the measured job, then set-up, then the census (a
tiny pass over the layers the workload never calls, so every metric is
a measurement on every workload).  Within that phase it sums per job
and reports the median over jobs.
"""

from __future__ import annotations

import statistics
from collections import defaultdict

PHASES = ("measure", "setup", "census")

#: Layers with engine counts read from their Spark job groups.
LAYERS = (
    "pages", "extract", "linking", "canonicalize", "refresh", "setops",
    "reasoning", "validation", "fixpoint", "query", "ntriples",
)
ENGINE = (
    ("jobs", "count"), ("tasks", "count"), ("task_s", "s"),
    ("shuffle_mb", "MB"), ("spill_mb", "MB"), ("failed_tasks", "count"),
)

#: (metric, unit, span name, span field) for the named per-span metrics.
SPAN_METRICS = (
    ("session.start_s", "s", "session.start", "dur_s"),
    ("pages.synth_s", "s", "pages.synth", "dur_s"),
    ("extract.s", "s", "extract", "dur_s"),
    ("extract.raw_triples", "count", "extract", "rows"),
    ("linking.signatures_s", "s", "linking.signatures", "dur_s"),
    ("linking.candidates_s", "s", "linking.candidates", "dur_s"),
    ("linking.verify_s", "s", "linking.verify", "dur_s"),
    ("linking.mentions", "count", "linking.signatures", "rows"),
    ("linking.candidate_pairs", "count", "linking.candidates", "rows"),
    ("linking.verified_pairs", "count", "linking.verify", "rows"),
    ("canonicalize.cc_s", "s", "canonicalize.cc", "dur_s"),
    ("canonicalize.cc_jobs", "count", "canonicalize.cc", "jobs"),
    ("canonicalize.rewrite_s", "s", "canonicalize.rewrite", "dur_s"),
    ("refresh.signatures_s", "s", "refresh.signatures", "dur_s"),
    ("refresh.delta_pairs_s", "s", "refresh.delta_pairs", "dur_s"),
    ("refresh.incremental_cc_s", "s", "refresh.incremental_cc", "dur_s"),
    ("refresh.rewrite_s", "s", "refresh.rewrite", "dur_s"),
    ("refresh.affected_old_rows", "count", "trace.counts", "affected_old_rows"),
    ("setops.merge_s", "s", "setops.merge", "dur_s"),
    ("setops.diff_s", "s", "setops.diff", "dur_s"),
    ("reasoning.s", "s", "reasoning", "dur_s"),
    ("reasoning.inferred", "count", "reasoning", "inferred"),
    ("validation.s", "s", "validation", "dur_s"),
    ("validation.issues", "count", "validation", "issues"),
    ("fixpoint.superclasses_s", "s", "fixpoint.superclasses", "dur_s"),
    ("query.bgp_s", "s", "query.bgp", "dur_s"),
    ("query.path_s", "s", "query.path", "dur_s"),
    ("query.sparql_s", "s", "query.sparql", "dur_s"),
    ("ntriples.serialize_s", "s", "ntriples.serialize", "dur_s"),
    ("ntriples.parse_s", "s", "ntriples.parse", "dur_s"),
)

#: Ratios and derived values computed in :func:`layer_metrics`.
DERIVED = (
    ("extract.share", "ratio"),
    ("refresh.signatures_share", "ratio"),
    ("linking.candidate_yield", "ratio"),
    ("canonicalize.idle_core_s", "s"),
    ("refresh.signature_yield", "ratio"),
    ("refresh.persisted_rdds", "count/batch"),
    ("query.rows", "count"),
    ("trace.overhead_ratio", "ratio"),
    ("jvm.peak_rss_mb", "MB"),
    ("jvm.heap_retained_mb", "MB"),
)


def per_layer_units() -> dict[str, str]:
    units = {m: u for m, u, _, _ in SPAN_METRICS}
    units.update(dict(DERIVED))
    for layer in LAYERS:
        for field, unit in ENGINE:
            units[f"{layer}.{field}"] = unit
    return units


def _per_job(spans, match, field):
    """Median over jobs of the per-job sum of ``field`` over matching
    spans, from the best phase that has any; None if nothing matched."""
    for phase in PHASES:
        jobs = defaultdict(float)
        for s in spans:
            if s["phase"] == phase and match(s) and field in s:
                jobs[s["job"]] += s[field]
        if jobs:
            return statistics.median(jobs.values())
    return None


def layer_metrics(spans: list[dict], cores: int, extra: dict) -> dict[str, float]:
    def by_name(name, field):
        return _per_job(spans, lambda s: s["name"] == name, field)

    out = {m: by_name(name, field) for m, _, name, field in SPAN_METRICS}
    for layer in LAYERS:
        for field, _ in ENGINE:
            out[f"{layer}.{field}"] = _per_job(
                spans, lambda s, L=layer: s["layer"] == L, field
            )

    def share(name):
        """Median over jobs of span ``name`` over the whole traced job
        (its ``job.*`` span), in the best phase that has ``name``."""
        for phase in PHASES:
            part, whole = defaultdict(float), defaultdict(float)
            for s in spans:
                if s["phase"] == phase and s["name"] == name:
                    part[s["job"]] += s["dur_s"]
                elif s["phase"] == phase and s["name"].startswith("job."):
                    whole[s["job"]] += s["dur_s"]
            ratios = [part[j] / whole[j] for j in part if whole.get(j)]
            if ratios:
                return statistics.median(ratios)
        return None

    # the share of the traced job a layer takes: the most a gain in that
    # layer alone can move the job's latency
    out["extract.share"] = share("extract")
    out["refresh.signatures_share"] = share("refresh.signatures")
    cand, ver = out["linking.candidate_pairs"], out["linking.verified_pairs"]
    out["linking.candidate_yield"] = ver / cand if cand else None
    # serial floor of the CC rounds: core-seconds the cores sat idle
    out["canonicalize.idle_core_s"] = _per_job(
        [dict(s, idle=cores * s["dur_s"] - s.get("task_s", 0.0)) for s in spans],
        lambda s: s["name"] == "canonicalize.cc",
        "idle",
    )
    signed = by_name("refresh.signatures", "rows")
    old = by_name("trace.counts", "old_mentions")
    out["refresh.signature_yield"] = (signed - old) / signed if signed and old is not None else None
    out["query.rows"] = _per_job(spans, lambda s: s["layer"] == "query", "rows")
    out.update(extra)
    return out
