"""Tests of the benchmark itself; they start no Spark session.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]

import inputs  # noqa: E402
import names  # noqa: E402
import tracing  # noqa: E402


def _bench_json() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_every_emitted_name_is_declared_with_its_unit():
    bench = _bench_json()
    e2e = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    layer = {m["name"]: m["unit"] for m in bench["per_layer"]}
    assert e2e == {k: v[0] for k, v in names.END_TO_END.items()}
    assert layer == names.PER_LAYER
    for trace, declared in ((False, e2e), (True, layer)):
        values = {k: 1.5 for k in declared}
        out = names.metrics_json(values, trace)
        assert {k: v["unit"] for k, v in out.items()} == declared
    # a traced run reports 0 for a layer its workload does not exercise
    assert names.metrics_json({}, True)["stream.index_rows"]["value"] == 0.0
    with pytest.raises(KeyError):
        names.metrics_json({"undeclared": 1.0}, True)
    with pytest.raises(KeyError):
        names.metrics_json({"setup_s": 1.0}, False)


def test_workloads_and_bounds_fit_the_file():
    bench = _bench_json()
    import run

    assert [w["name"] for w in bench["workloads"]] == list(run.WORKLOADS)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    assert max(bounds.values()) == bounds["setup_s"] <= 0.25


def _corpus(seed: int):
    from kmcp_spark.corpus import make_rows

    return make_rows(np.arange(48), seed, 0.3, 0.6, **inputs.CODEC_OPTS)


def test_seed_reproduces_and_changes_the_corpus():
    a, b, c = _corpus(1), _corpus(1), _corpus(2)
    assert a.equals(b)
    assert list(a["bytes"]) == list(b["bytes"])
    assert list(a["bytes"]) != list(c["bytes"])
    # the planted structure is the same; only the content moves with the seed
    assert list(a["cluster_id"]) == list(c["cluster_id"])
    # every decode branch is present: lossy containers next to wav and pcm
    assert {"mp3", "wav", "pcm_s16le"} <= set(a["codec"])


def test_seed_reproduces_and_changes_the_hot_classes():
    a, b, c = (inputs.hot_rows(s, (3, 4)) for s in (1, 1, 2))
    assert list(a["bytes"]) == list(b["bytes"])
    assert list(a["bytes"]) != list(c["bytes"])
    for _, cls in a.groupby("cluster_id"):
        # one transcript per class, and no two members share their bytes
        assert cls["transcript"].nunique() == 1
        assert cls["bytes"].nunique() == len(cls)
    # the seed moves the content, not the shape of the work
    assert list(a["dur_ms"]) == list(c["dur_ms"])
    assert (a["transcript"].str.split().str.len() == inputs.HOT_WORDS).all()


def test_seed_reproduces_and_changes_the_stream_order(tmp_path):
    staged = tmp_path / "staged.parquet"
    df = _corpus(1)[inputs.CLIP_COLS]
    pq.write_table(pa.Table.from_pandas(df, preserve_index=False), staged)

    def batches(seed, name):
        files = inputs.stream_batches(str(staged), str(tmp_path / name), seed, 8)
        return [pq.read_table(f).column("clip_id").to_pylist() for f in files]

    a, b, c = batches(1, "a"), batches(1, "b"), batches(2, "c")
    assert a == b and a != c
    assert sorted(sum(a, [])) == sorted(df["clip_id"])
    with open(tmp_path / "a" / "batch_00000.parquet", "rb") as fa, \
            open(tmp_path / "b" / "batch_00000.parquet", "rb") as fb:
        assert fa.read() == fb.read()


def _spans():
    t = tracing.Tracer(enabled=True)
    t.add("pass", 0.0, 10.0, "pipeline")
    t.add("a", 1.0, 4.0, "sketch", parent=0)
    t.add("b", 3.0, 6.0, "lsh", parent=0)  # overlaps a: covered once
    t.add("c", 8.0, 12.0, "verify", parent=0)  # runs past its parent
    t.add("a.inner", 1.5, 2.0, "sketch", parent=1)
    return t.spans


def test_self_time_is_span_minus_what_children_cover():
    spans = _spans()
    assert tracing.self_time(spans, 0) == pytest.approx(10.0 - (6.0 - 1.0) - (10.0 - 8.0))
    assert tracing.self_time(spans, 1) == pytest.approx(3.0 - 0.5)
    assert tracing.self_time(spans, 4) == pytest.approx(0.5)


def test_jobs_go_to_the_innermost_layer_open_at_submission():
    spans = _spans()
    assert tracing.layer_of(spans, 1.7) == "sketch"
    assert tracing.layer_of(spans, 3.5) == "lsh"
    assert tracing.layer_of(spans, 7.0) == "pipeline"
    assert tracing.layer_of(spans, 20.0) is None
    # nested spans of one layer count once
    assert tracing.layer_wall(spans, "sketch") == pytest.approx(3.0)


def test_spans_record_name_start_end_and_parent():
    t = tracing.Tracer(enabled=True)
    with t.span("outer", "pipeline"):
        with t.span("inner", "sketch"):
            pass
    outer, inner = t.spans
    assert inner["parent"] == outer["id"] and outer["parent"] is None
    assert outer["start"] <= inner["start"] <= inner["end"] <= outer["end"]
    off = tracing.Tracer(enabled=False)
    with off.span("x", "sketch") as rec:
        assert rec is None
    assert off.spans == []
