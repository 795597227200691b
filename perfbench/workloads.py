"""The workloads.  Each runs ``DedupPipeline.run`` on a local[4] session
and returns an ``Outcome``: its timed passes, the correctness checks (run
outside the timed region) and, when traced, the per-layer metrics.

The first pass runs in a fresh session; warm passes repeat until
``seconds`` have passed.  Traced runs add legs that are not timed as
end-to-end units: the sketch kernels called directly, a stream leg and
the local[1] scaling leg (``dedup_corpus``), and a driver-query pass
(``dedup_hotclass``).
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import time
import traceback
from dataclasses import dataclass, field

import inputs
import names
import tracing as tr

HERE = os.path.dirname(os.path.abspath(__file__))
CORES = 4


@dataclass
class Outcome:
    setup_s: float
    first_s: float = 0.0
    warm_s: list[float] = field(default_factory=list)
    warm_items: int = 0
    attempted: int = 0
    failed: int = 0
    checks: list[tuple[str, bool, str]] = field(default_factory=list)
    layer: dict[str, float] = field(default_factory=dict)
    report: list[tuple[str, float, str, int]] = field(default_factory=list)

    def check(self, name: str, ok: bool, detail: str) -> None:
        self.checks.append((name, bool(ok), detail))


def _timed(fn) -> float:
    t = time.perf_counter()
    fn()
    return time.perf_counter() - t


def _passes(out: Outcome, run_pass, seconds: float) -> None:
    """Run the first pass, then warm passes until ``seconds`` have passed
    (at least one).  ``run_pass(k)`` returns (clips, latency in seconds)."""
    k, start = 0, None
    while True:
        out.attempted += 1
        try:
            items, dt = run_pass(k)
        except Exception:  # a failed pass is counted, never hidden
            traceback.print_exc(file=sys.stderr)
            out.failed += 1
        else:
            if k == 0:
                out.first_s = dt
            else:
                out.warm_s.append(dt)
                out.warm_items += items
        k += 1
        if start is None:
            start = time.perf_counter()
        elif time.perf_counter() - start >= seconds:
            return


def _per_pass(layer_vals: dict, n: int) -> dict:
    """Additive Spark totals over ``n`` passes -> per-pass values."""
    ratios = ("task_skew", "busy_frac", "peak_exec_mem_mb")
    return {k: (v if k in ratios else v / max(n, 1)) for k, v in layer_vals.items()
            if k != "map_in_pandas_rows"}


# ------------------------------------------------------------- pipeline

def _kernel_terms(staging: str, cfg) -> dict[str, float]:
    """Time each sketch-kernel term single-threaded, in the driver, on a
    fixed sample of the workload's clips: us per clip, median of 3."""
    import numpy as np
    import pyarrow.parquet as pq

    from kmcp_spark.functions.audio import decode_pcm, resample_pcm, spectral_shingle_hashes_batch
    from kmcp_spark.functions.hashing import splitmix64
    from kmcp_spark.functions.minhash import minhash_signatures, scaled_sketch
    from kmcp_spark.functions.shingle import char_kgram_hashes_batch, word_ngram_hashes_batch
    from kmcp_spark.functions.simhash import simhash64

    sample = pq.read_table(staging, columns=inputs.CLIP_COLS).to_pandas()
    sample = sample.sort_values("clip_id").head(64).reset_index(drop=True)
    sk = cfg.sketch
    n = len(sample)
    runs: dict[str, list[float]] = {t: [] for t in names.SKETCH_TERMS}
    for _ in range(3):
        clock = {}

        def timed(term, fn):
            t = time.perf_counter()
            r = fn()
            clock[term] = time.perf_counter() - t
            return r

        def decode_all():
            pcms, srs = [], []
            for b, c, sr in zip(sample["bytes"], sample["codec"], sample["sr_hz"]):
                try:
                    pcms.append(decode_pcm(b, c))
                except (NotImplementedError, ValueError):
                    pcms.append(np.empty(0, dtype=np.float32))
                srs.append(int(sr))
            return pcms, srs

        pcms, srs = timed("decode", decode_all)
        pcms = timed("resample", lambda: [resample_pcm(p, s, sk.sr_work) for p, s in zip(pcms, srs)])
        audio = timed("spectral_tokens", lambda: spectral_shingle_hashes_batch(
            pcms, [sk.sr_work] * n, ngram=sk.audio_ngram, select=sk.audio_select,
            minimizer_w=sk.minimizer_w, syncmer_s=sk.syncmer_s, frame_ms=sk.frame_ms,
            hop_ms=sk.hop_ms, n_bands=sk.n_bands, quant_levels=sk.quant_levels))
        text = timed("text_shingles", lambda: [
            # 0x39D0 and 0xA5D10 are the sketch stage's word and audio salts
            np.union1d(c, splitmix64(w, seed=0x39D0)) for c, w in zip(
                char_kgram_hashes_batch(sample["transcript"], sk.char_k),
                word_ngram_hashes_batch(sample["transcript"], sk.word_n))])
        sets = timed("fracminhash", lambda: [
            np.concatenate([scaled_sketch(t, sk.scale),
                            scaled_sketch(splitmix64(a, seed=0xA5D10), sk.scale)])
            for t, a in zip(text, audio)])
        timed("minhash", lambda: minhash_signatures(sets, sk.num_perm, sk.master_seed))
        timed("simhash", lambda: simhash64(sets))
        for term, s in clock.items():
            runs[term].append(s)
    return {f"sketch.{t}_us_per_clip": statistics.median(v) / n * 1e6 for t, v in runs.items()}


def _stage_spans(tracer, out_dir: str, metrics, pass_span: dict) -> None:
    """Child spans of a pass for its stages, from the program's own
    records: lineage.jsonl stamps each stage's end and StageMetric holds
    its wall time.  A stage span runs until the next stage starts, so
    driver work between stages goes to the stage before it."""
    ends = {}
    with open(os.path.join(out_dir, "lineage.jsonl")) as f:
        for line in f:
            rec = json.loads(line)
            ends[rec["stage"]] = rec["ts"]
    starts = [(ends[m.stage] - m.wall_ms / 1000, m.stage) for m in metrics
              if m.stage in ends and m.stage in names.STAGE_LAYER]
    starts.sort()
    for i, (t0, stage) in enumerate(starts):
        t1 = starts[i + 1][0] if i + 1 < len(starts) else pass_span["end"]
        tracer.add(f"stage.{stage}", t0, t1, names.STAGE_LAYER[stage], parent=pass_span["id"])


def pipeline(ctx, seed: int, seconds: float, kind: str) -> Outcome:
    from kmcp_spark.config import LSHConfig, PipelineConfig
    from kmcp_spark.plans.pipeline import DedupPipeline

    spark, tracer, work = ctx.spark, ctx.tracer, ctx.work
    staging = os.path.join(work, "staging")
    if kind == "dedup_corpus":
        cfg = PipelineConfig()
        stage = lambda: inputs.corpus(spark, seed, 300, staging, 1.0, 3.0)  # noqa: E731
    else:
        # one class above the bucket cap, so escalation runs
        cfg = PipelineConfig(lsh=LSHConfig(max_bucket=200))
        hot_sizes = (20, 40, 205)
        stage = lambda: inputs.hotclass(spark, seed, 150, hot_sizes, staging)  # noqa: E731
    # set-up runs once: a second round would cost as much as a warm pass
    # on a contended host, and a run is budgeted at about a minute there
    out = Outcome(setup_s=_timed(stage))
    clips = spark.read.parquet(staging).select(*inputs.CLIP_COLS)
    truth = inputs.read_truth(staging)
    n_clips = len(truth)
    passes = []

    def one_pass(k: int) -> tuple[int, float]:
        out_dir = os.path.join(work, f"out{k}")
        with tracer.span(f"pipeline.pass{k}", layer="pipeline") as sp:
            t = time.perf_counter()
            res = DedupPipeline(spark, cfg, out_dir).run(clips)
            dt = time.perf_counter() - t
        if sp is not None and k > 0:
            _stage_spans(tracer, out_dir, res.metrics, sp)
        if passes:  # keep the latest output for the checks
            shutil.rmtree(passes[-1][1], ignore_errors=True)
        passes.append((k, out_dir, res))
        return n_clips, dt

    _passes(out, one_pass, seconds)
    if not passes:
        return out
    _k, out_dir, res = passes[-1]

    # correctness, outside the timed region
    labels = res.clusters.select("clip_id", "cluster_id").toPandas()
    truth_p = inputs.cluster_pairs(truth)
    recall, precision = inputs.recall_precision(inputs.cluster_pairs(labels), truth_p)
    out.check("pair_recall>=0.99", recall >= 0.99, f"{recall:.4f}")
    out.check("pair_precision>=0.99", precision >= 0.99, f"{precision:.4f}")
    n_over = 0
    if os.path.exists(os.path.join(out_dir, "oversized_buckets.json")):
        with open(os.path.join(out_dir, "oversized_buckets.json")) as f:
            n_over = json.load(f)["n_oversized_buckets"]
    if kind == "dedup_hotclass":
        merged = truth[truth["transform"] == "hot"].merge(labels, on="clip_id", suffixes=("", "_got"))
        for cls, grp in merged.groupby("cluster_id"):
            got = grp["cluster_id_got"].unique()
            members = set(labels.loc[labels.cluster_id.isin(got), "clip_id"])
            out.check(f"{cls} is one cluster", len(got) == 1 and members == set(grp.clip_id),
                      f"{len(got)} cluster(s), {len(members)} members for {len(grp)}")
        out.check("oversized buckets > 0", n_over > 0, str(n_over))
    cps = out.warm_items / sum(out.warm_s) if out.warm_s else 0.0
    out.report += [("clips_per_s", cps, "clips/s", len(out.warm_s)),
                   ("pair_recall", recall, "ratio", len(truth_p)),
                   ("pair_precision", precision, "ratio", len(truth_p))]

    warm = [p for p in passes if p[0] > 0]
    if not ctx.trace or not warm:
        return out
    ms = [{m.stage: m for m in r.metrics} for _k, _d, r in warm]
    lay = {}
    for st in names.STAGES:
        lay[f"pipeline.{st}.wall_s"] = statistics.median(
            m[st].wall_ms / 1000 if st in m else 0.0 for m in ms)
    lay["tables.checkpoint_write_s"] = statistics.median(
        sum(x.write_ms for x in m.values()) / 1000 for m in ms)
    lay["tables.checkpoint_post_s"] = statistics.median(
        sum(x.post_ms for x in m.values()) / 1000 for m in ms)
    rows = {st: m.rows_out for st, m in ms[-1].items()}
    lay["exact.rep_frac"] = rows.get("sketches", 0) / max(rows.get("exact_groups", 0), 1)
    lay["lsh.candidate_pairs"] = rows.get("candidates", 0)
    lay["verify.verified_pairs"] = rows.get("verified", 0)
    lay["verify.pair_yield"] = rows.get("verified", 0) / max(rows.get("candidates", 0), 1)
    lay["lsh.oversized_buckets"] = n_over
    # counts that need one more job each; run after the timed passes
    from kmcp_spark.operators.cluster import prune_weak_edges
    from kmcp_spark.operators.lsh import band_buckets

    sk = spark.read.parquet(os.path.join(out_dir, "sketches"))
    lay["lsh.band_rows"] = band_buckets(
        sk, cfg.lsh.bands, cfg.lsh.rows_per_band, cfg.lsh.domain_bands).count()
    lay["cluster.edges_kept"] = prune_weak_edges(res.verified, alpha=cfg.cc_prune_alpha).count()
    lay.update(_kernel_terms(staging, cfg))
    if kind == "dedup_corpus":
        stream = stream_leg(ctx, out, staging, seed)
    ctx.finish_event_log()
    for layer in names.STAGE_LAYER.values():
        vals = tr.spark_layer_metrics(tracer.spans, ctx.event_log, layer, CORES)
        if layer == "verify":
            lay["verify.plausible_pairs"] = vals["map_in_pandas_rows"] / len(warm)
        lay.update({f"{layer}.{k}": v for k, v in _per_pass(vals, len(warm)).items()})
    if kind == "dedup_corpus":
        vals = tr.spark_layer_metrics(tracer.spans, ctx.event_log, "stream", CORES)
        n = max(stream.pop("batches"), 1)
        lay.update(stream)
        lay["stream.jobs_per_batch"] = vals["jobs"] / n
        lay["stream.task_cpu_s_per_batch"] = vals["task_cpu_s"] / n
        lay["stream.busy_frac"] = vals["busy_frac"]
        # N -> 4N leg: the same corpus in a separate local[1] session; one
        # pass, on the warm JVM, with Python workers started afresh
        spark1 = ctx.restart(cores=1)
        clips1 = spark1.read.parquet(staging).select(*inputs.CLIP_COLS)
        cps1 = n_clips / _timed(lambda: DedupPipeline(spark1, cfg, os.path.join(work, "one")).run(clips1))
        lay["scale.clips_per_s_1core"] = cps1
        lay["scale.eff_1to4"] = cps / (CORES * cps1)
        out.report += [("clips_per_s_1core", cps1, "clips/s", 1),
                       ("scaling_eff_1to4", cps / (CORES * cps1), "ratio", 1)]
    out.layer = lay
    if kind == "dedup_hotclass":
        query_pass(ctx, out)
    return out


# --------------------------------------------------------------- stream

STREAM_BATCH = 100


def stream_leg(ctx, out: Outcome, staging: str, seed: int) -> dict:
    """A closed loop with one producer over the staged corpus: drop a
    batch into the input dir, run ``streaming_neardup_flags`` until it
    returns, then drop the next.  Rows are shuffled within windows of
    four batches, so planted clusters straddle batches.  Checks recall
    and precision of the flagged pairs' connected components, and that
    no pair is flagged twice."""
    import pyarrow.parquet as pq

    from kmcp_spark.config import PipelineConfig
    from kmcp_spark.streaming.dedup import streaming_neardup_flags

    d = {n: os.path.join(ctx.work, "stream", n) for n in ("drops", "in", "index", "flags", "ckpt")}
    files = inputs.stream_batches(staging, d["drops"], seed, STREAM_BATCH)
    os.makedirs(d["in"])
    lat = []
    for k, f in enumerate(files):
        out.attempted += 1
        # the first batch pays the stream's cold start: not attributed
        with ctx.tracer.span(f"stream.batch{k}", layer="stream" if k else None):
            t = time.perf_counter()
            try:
                os.replace(f, os.path.join(d["in"], os.path.basename(f)))
                streaming_neardup_flags(ctx.spark, d["in"], d["index"], d["flags"], d["ckpt"],
                                        PipelineConfig(), available_now=True)
            except Exception:  # a failed batch is counted, never hidden
                traceback.print_exc(file=sys.stderr)
                out.failed += 1
                continue
        if k:
            lat.append(time.perf_counter() - t)

    flagged = []
    for r, _d, fs in os.walk(d["flags"]):
        if os.path.exists(os.path.join(r, "_SUCCESS")):
            for f in fs:
                if f.endswith(".parquet"):
                    t = pq.read_table(os.path.join(r, f), columns=["a", "b"])
                    flagged += [tuple(sorted(ab)) for ab in
                                zip(t.column("a").to_pylist(), t.column("b").to_pylist())]
    out.check("stream: no pair flagged twice", len(flagged) == len(set(flagged)),
              f"{len(flagged)} flags, {len(set(flagged))} distinct")
    seen = set(pq.read_table(d["in"], columns=["clip_id"]).column("clip_id").to_pylist())
    truth = inputs.read_truth(staging)
    truth_p = inputs.cluster_pairs(truth[truth.clip_id.isin(seen)])
    found = inputs.cluster_pairs(inputs.components(sorted(set(flagged))))
    recall, precision = inputs.recall_precision(found, truth_p)
    out.check("stream: pair_recall>=0.99", recall >= 0.99, f"{recall:.4f} of {len(truth_p)}")
    out.check("stream: pair_precision>=0.99", precision >= 0.99, f"{precision:.4f}")
    p50 = statistics.median(lat) if lat else 0.0
    out.report += [("batch_latency_p50_s", p50, "s", len(lat)),
                   ("stream_pair_recall", recall, "ratio", len(truth_p)),
                   ("stream_pair_precision", precision, "ratio", len(truth_p))]
    index_rows = sum(pq.ParquetFile(os.path.join(r, f)).metadata.num_rows
                     for r, _d, fs in os.walk(d["index"]) for f in fs if f.endswith(".parquet"))
    return {"stream.batch_latency_p50_s": p50, "stream.index_rows": index_rows,
            "batches": len(lat)}


# -------------------------------------------------------------- queries

# one query or more per driver-query family, and the eight bucket ->
# capped-pairs queries (ROADMAP item 3), run on the bundled sf0.001 tables
QUERY_FAMILY = {
    "dedup_minhash_lsh": "dedup", "dedup_simhash": "dedup", "text_token_stats": "text",
    "ann_cosine_topk": "similarity", "topn_per_group": "relational",
    "events_hourly": "events", "events_stream_hourly": "events",
    "dedup_skew_caps": "dedup", "lsh_bucket_skew": "dedup", "image_dup_pairs": "media",
    "clips_dup_pairs": "clips", "clips_chunked_matches": "clips",
    "clips_landmark_pairs": "clips", "clips_snippet_search": "clips",
    "clips_quality_gates": "clips",
}
DATA = os.path.join(HERE, "data", "sf0.001")


def query_pass(ctx, out: Outcome) -> None:
    """Run the query subset once, in their listed order, each
    forced through the noop sink; check each row count against the seed
    commit's and record per-query and per-family seconds."""
    from pyspark.sql import Observation, functions as F

    import __spark_entry__ as entry

    spark = ctx.restart(cores=CORES)
    with open(os.path.join(HERE, "data", "expected_rows.json")) as f:
        expected = json.load(f)
    fns = entry.queries()
    took, wrong = {}, []
    for q in [q for q in fns if q in QUERY_FAMILY]:
        obs = Observation()
        with ctx.tracer.span(f"query.{q}", layer=f"query.{q}") as sp:
            fns[q](spark, DATA).observe(obs, F.count(F.lit(1)).alias("n")).write.format(
                "noop").mode("overwrite").save()
        took[q] = sp["end"] - sp["start"]
        if obs.get["n"] != expected[q]:
            wrong.append(f"{q}: {obs.get['n']} rows, expected {expected[q]}")
    out.check("query row counts equal the seed commit's", not wrong,
              "; ".join(wrong) or f"{len(took)} equal")
    out.layer.update({f"query.{q}_s": took.get(q, 0.0) for q in names.ROADMAP_QUERIES})
    for fam in names.QUERY_FAMILIES:
        out.layer[f"queries.{fam}_s"] = sum(t for q, t in took.items() if QUERY_FAMILY[q] == fam)
    out.report.append(("queries_total_s", sum(took.values()), "s", len(took)))
