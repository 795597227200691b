"""Seeded inputs for the workloads.  The program receives only the rows
written here; the truth columns stay with the benchmark."""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

CLIP_COLS = ["clip_id", "bytes", "sr_hz", "dur_ms", "codec", "transcript"]
TRUTH_COLS = ["clip_id", "cluster_id", "transform"]

# every decode branch: lossy containers (decode_ok=false flow-through) and
# the telephony and float WAV codings next to plain PCM
CODEC_OPTS = dict(
    lossy_codecs=("mp3", "ogg"),
    wav_encodings=("pcm16", "ulaw", "alaw", "adpcm", "float32"),
)


def generated(spark, seed: int, n: int, min_dur_s: float, max_dur_s: float, **opts):
    """``n`` clips from the corpus generator, with about 10% planted T0-T5
    duplicates, as one relation holding the clip and the truth columns
    (``generate_clips`` splits the two, and writing both would run the
    generator twice)."""
    from kmcp_spark.corpus import CLIPS_SCHEMA, TRUTH_SCHEMA

    # runs in the Python workers, which import kmcp_spark but not this module
    def gen(batches):
        from kmcp_spark.corpus import make_rows

        for pdf in batches:
            yield make_rows(pdf["id"].to_numpy(), seed, min_dur_s, max_dur_s, **opts)

    schema = CLIPS_SCHEMA + ", " + TRUTH_SCHEMA.split(", ", 1)[1]
    return spark.range(0, n, 1, 8).mapInPandas(gen, schema=schema)


def corpus(spark, seed: int, n: int, path: str, min_dur_s: float, max_dur_s: float) -> None:
    generated(spark, seed, n, min_dur_s, max_dur_s, **CODEC_OPTS).write.mode(
        "overwrite"
    ).parquet(path)


HOT_SR, HOT_DUR_S, HOT_WORDS = 16000, 0.75, 24


def hot_rows(seed: int, sizes: tuple[int, ...]) -> pd.DataFrame:
    """Near-duplicate classes: members share a base clip's transcript and
    its audio up to a per-member gain, so their bytes differ and exact
    grouping cannot fold them.  The seed picks the content; every class
    base has the same shape (sample rate, duration, word count), so the
    work a class costs does not move with the seed."""
    from kmcp_spark.corpus import VOCAB, make_rows
    from kmcp_spark.functions.audio import decode_pcm, encode_wav, resample_pcm

    sr = HOT_SR
    recs = []
    for c, size in enumerate(sizes):
        # ids in an odd (inactive) generator block are plain independent clips
        base_id = 50_000_000 + (2 * c + 1) * 20 + 5
        base = make_rows(np.array([base_id]), seed, HOT_DUR_S, HOT_DUR_S).iloc[0]
        pcm = resample_pcm(decode_pcm(base["bytes"], base["codec"]), int(base["sr_hz"]), sr)
        rng = np.random.default_rng([seed, base_id])
        transcript = " ".join(VOCAB[int(w)] for w in rng.integers(0, len(VOCAB), HOT_WORDS))
        for j in range(size):
            recs.append({
                "clip_id": f"hot{c:02d}_{j:05d}",
                "bytes": encode_wav(pcm * (1.0 - 0.0015 * (j + 1)), sr),
                "sr_hz": sr,
                "dur_ms": int(round(len(pcm) / sr * 1000)),
                "codec": "wav",
                "transcript": transcript,
                "cluster_id": f"hot{c:02d}",
                "transform": "hot",
            })
    return pd.DataFrame.from_records(recs, columns=CLIP_COLS + TRUTH_COLS[1:])


def hotclass(spark, seed: int, n_unique: int, sizes: tuple[int, ...], path: str) -> None:
    hot = spark.createDataFrame(
        hot_rows(seed, sizes),
        schema="clip_id string, bytes binary, sr_hz int, dur_ms int, codec string, "
        "transcript string, cluster_id string, transform string",
    )
    generated(spark, seed, n_unique, 0.5, 1.0).unionByName(hot).write.mode("overwrite").parquet(path)


def read_truth(path: str) -> pd.DataFrame:
    return pq.read_table(path, columns=TRUTH_COLS).to_pandas()


def stream_batches(path: str, out_dir: str, seed: int, batch: int) -> list[str]:
    """Split a staged corpus into drop files of ``batch`` clips.  Rows are
    shuffled within windows of four batches, so planted clusters (at most
    20 consecutive ids) straddle batches but stay within reach."""
    tbl = pq.read_table(path, columns=CLIP_COLS)
    ids = np.array([int(c.rsplit("_", 1)[1]) for c in tbl.column("clip_id").to_pylist()])
    rng = np.random.default_rng([seed, 7])
    order = np.lexsort((rng.random(len(ids)), ids // (4 * batch)))
    tbl = tbl.take(pa.array(order))
    os.makedirs(out_dir, exist_ok=True)
    files = []
    for k in range(len(ids) // batch):
        f = os.path.join(out_dir, f"batch_{k:05d}.parquet")
        pq.write_table(tbl.slice(k * batch, batch), f)
        files.append(f)
    return files


def cluster_pairs(labels: pd.DataFrame) -> set[tuple[str, str]]:
    """Intra-cluster pairs (a < b) of (clip_id, cluster_id) rows.  In the
    planted truth, T5 near-miss controls are their own singleton
    clusters, so they never form a true pair."""
    pairs = set()
    for _, ids in labels.groupby("cluster_id")["clip_id"]:
        ids = sorted(ids)
        pairs.update((a, b) for i, a in enumerate(ids) for b in ids[i + 1:])
    return pairs


def components(edges: list[tuple[str, str]]) -> pd.DataFrame:
    """Connected components of flagged pairs, as (clip_id, cluster_id)."""
    parent: dict[str, str] = {}

    def find(x: str) -> str:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return pd.DataFrame([(x, find(x)) for x in parent], columns=["clip_id", "cluster_id"])


def recall_precision(found: set, truth: set) -> tuple[float, float]:
    hit = len(found & truth)
    return hit / max(len(truth), 1), hit / max(len(found), 1)
