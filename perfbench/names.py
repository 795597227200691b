"""Every metric the benchmark emits, with its unit.

``BENCHMARK.json`` at the repository root lists exactly these names; the
tests check that the two agree.  Every run emits every name of its kind:
a layer that a workload does not exercise reports 0.
"""

from __future__ import annotations

# name -> (unit, better, bound)
# The timing bounds sit near the 0.25 cap because the host is shared:
# on a contended host, ten runs spread by 0.09-0.34 (quartile distance
# over median; perfbench/README.md, Baseline).
END_TO_END = {
    "setup_s": ("s", "lower", 0.25),
    "first_pass_s": ("s", "lower", 0.24),
    "latency_p50_s": ("s", "lower", 0.24),
    "items_per_s": ("1/s", "higher", 0.24),
    "peak_rss_mb": ("MB", "lower", 0.2),
}

STAGES = ("exact_groups", "sketches", "candidates", "verified", "clusters")
# pipeline stage -> the Spark layer its jobs are attributed to
STAGE_LAYER = dict(zip(STAGES, ("exact", "sketch", "lsh", "verify", "cluster")))
SKETCH_TERMS = ("decode", "resample", "spectral_tokens", "text_shingles",
                "minhash", "simhash", "fracminhash")
SPARK_TERMS = {
    "task_cpu_s": "s", "gc_s": "s", "python_start_s": "s", "python_run_s": "s",
    "arrow_to_py_mb": "MB", "arrow_from_py_mb": "MB", "shuffle_write_mb": "MB",
    "spill_mb": "MB", "peak_exec_mem_mb": "MB", "task_skew": "ratio",
    "jobs": "count", "busy_frac": "ratio",
}
QUERY_FAMILIES = ("dedup", "text", "similarity", "relational", "events", "clips", "media")
ROADMAP_QUERIES = ("dedup_minhash_lsh", "dedup_simhash", "dedup_skew_caps", "lsh_bucket_skew",
                   "clips_dup_pairs", "clips_chunked_matches", "clips_landmark_pairs",
                   "clips_snippet_search")


def _per_layer() -> dict[str, str]:
    out = {f"pipeline.{s}.wall_s": "s" for s in STAGES}
    out["tables.checkpoint_write_s"] = "s"
    out["tables.checkpoint_post_s"] = "s"
    out.update({f"sketch.{t}_us_per_clip": "us" for t in SKETCH_TERMS})
    for layer in STAGE_LAYER.values():
        out.update({f"{layer}.{k}": u for k, u in SPARK_TERMS.items()})
    out.update({
        "exact.rep_frac": "ratio",
        "lsh.band_rows": "count",
        "lsh.candidate_pairs": "count",
        "lsh.oversized_buckets": "count",
        "verify.plausible_pairs": "count",
        "verify.verified_pairs": "count",
        "verify.pair_yield": "ratio",
        "cluster.edges_kept": "count",
        "scale.clips_per_s_1core": "1/s",
        "scale.eff_1to4": "ratio",
        "stream.batch_latency_p50_s": "s",
        "stream.jobs_per_batch": "count",
        "stream.task_cpu_s_per_batch": "s",
        "stream.busy_frac": "ratio",
        "stream.index_rows": "count",
    })
    out.update({f"queries.{f}_s": "s" for f in QUERY_FAMILIES})
    out.update({f"query.{q}_s": "s" for q in ROADMAP_QUERIES})
    out["trace.latency_p50_s"] = "s"
    out["trace.overhead_frac"] = "ratio"
    return out


PER_LAYER = _per_layer()


def metrics_json(values: dict[str, float], trace: bool) -> dict:
    """The ``metrics`` object of the result line: every registered name of
    the run's kind, each with its unit.  Unknown names are an error."""
    units = PER_LAYER if trace else {k: v[0] for k, v in END_TO_END.items()}
    unknown = set(values) - set(units)
    if unknown:
        raise KeyError(f"unregistered metrics: {sorted(unknown)}")
    if not trace:
        missing = set(units) - set(values)
        if missing:
            raise KeyError(f"end-to-end metrics not measured: {sorted(missing)}")
    return {k: {"value": float(values.get(k, 0.0)), "unit": u} for k, u in units.items()}
