"""The bucket -> capped-pairs kernel (``lsh.bucket_pairs``) against a
brute-force Python reference, in both oversized modes, plus a guard on
its physical plan shape."""

import random
from collections import Counter, defaultdict

import pytest

from kmcp_spark.operators.lsh import BAND_KEY, bucket_pairs
from kmcp_spark import runtime

MODES = ["drop", "escalate"]


def _reference(rows, max_bucket, mode):
    """rows: (id, *key) tuples -> ({(a, b): shared}, {(*key, size)})."""
    buckets = defaultdict(list)
    for id_, *key in rows:
        buckets[tuple(key)].append(id_)
    shared = Counter()
    oversized = set()

    def vote(x, y):
        if x != y:
            shared[(min(x, y), max(x, y))] += 1

    for key, ids in buckets.items():
        if len(ids) > max_bucket:
            oversized.add((*key, len(ids)))
            if mode == "escalate":
                lo, hi = min(ids), max(ids)
                for x in ids:
                    vote(x, lo)
                    vote(x, hi)
        else:
            for i in range(len(ids)):
                for j in range(i + 1, len(ids)):
                    vote(ids[i], ids[j])
    return dict(shared), oversized


def _run(spark, rows, schema, max_bucket, mode, id_col="clip_id"):
    df = spark.createDataFrame(rows, schema)
    key_cols = [c for c in df.columns if c != id_col]
    pairs, over = bucket_pairs(df, id_col, key_cols, max_bucket, oversized=mode)
    got = {(r.a, r.b): r.shared for r in pairs.collect()}
    got_over = {tuple(r) for r in over.collect()}
    return got, got_over


def _random_rows(seed, n_rows=120, n_ids=30):
    rng = random.Random(seed)
    # ~2 ids per bucket on average, plus one hot bucket above any cap
    # used here; ids repeat, so some buckets hold an id twice
    rows = [
        (f"c{rng.randrange(n_ids):02d}", rng.randrange(3), rng.randrange(20))
        for _ in range(n_rows)
    ]
    return rows + [(f"c{rng.randrange(n_ids):02d}", 0, 99) for _ in range(25)]


_SCHEMA = "clip_id string, band_id int, band_hash bigint"


@pytest.fixture(autouse=True)
def _release_lsh_cache():
    yield
    runtime.release_deferred(tag="lsh")


@pytest.mark.parametrize("mode", MODES)
@pytest.mark.parametrize("seed", [1, 2, 3])
def test_matches_brute_force_reference(spark, mode, seed):
    rows = _random_rows(seed)
    for max_bucket in (4, 9):
        got = _run(spark, rows, _SCHEMA, max_bucket, mode)
        want = _reference([(r[0], r[1], r[2]) for r in rows], max_bucket, mode)
        assert got == want
        # the random tables really exercise both sides of the cap
        assert want[1] and want[0]


@pytest.mark.parametrize("mode", MODES)
def test_cap_boundary_and_singletons(spark, mode):
    m = 5
    at_cap = [(f"a{i}", 0, 1) for i in range(m)]  # size == max_bucket
    over_cap = [(f"o{i}", 0, 2) for i in range(m + 1)]  # size max_bucket+1
    singles = [("s0", 0, 3), ("s1", 0, 4), ("a0", 1, 9)]
    rows = at_cap + over_cap + singles
    got, over = _run(spark, rows, _SCHEMA, m, mode)
    assert got == _reference(rows, m, mode)[0]
    # the bucket at the cap expands fully
    assert sum(1 for a, _ in got if a.startswith("a")) == m * (m - 1) // 2
    # only the bucket one above the cap is oversized; singletons are not
    assert over == {(0, 2, m + 1)}
    esc = {p for p in got if p[0].startswith("o")}
    if mode == "drop":
        assert not esc
    else:
        # every member linked to the min/max anchors: 2(size-2) + 1 edges
        assert len(esc) == 2 * (m + 1 - 2) + 1
    assert not any(p[0].startswith("s") or p[1].startswith("s") for p in got)


@pytest.mark.parametrize("mode", MODES)
def test_struct_ids(spark, mode):
    rng = random.Random(7)
    rows = [
        ((f"c{rng.randrange(8)}", rng.randrange(3)), rng.randrange(2), rng.randrange(4))
        for _ in range(120)
    ]
    schema = "cid struct<clip_id: string, chunk_idx: int>, band_id int, band_hash bigint"
    got, over = _run(spark, rows, schema, 6, mode, id_col="cid")
    got = {(tuple(a), tuple(b)): n for (a, b), n in got.items()}
    assert (got, over) == _reference(rows, 6, mode)


def test_drop_mode_leaves_the_lsh_cache_alone(spark):
    """A drop-mode call persists nothing and never releases the
    lsh-tagged cache an escalating call registered."""
    sc = spark.sparkContext
    rows = _random_rows(11)
    df = spark.createDataFrame(rows, _SCHEMA)
    esc, esc_over = bucket_pairs(df, "clip_id", BAND_KEY, 4, oversized="escalate")
    esc.collect()
    lsh_entries = [e for e in runtime._DEFERRED if e[0] == "lsh"]
    assert lsh_entries
    ids = runtime.persistent_ids(sc)

    pairs, over = bucket_pairs(df, "clip_id", BAND_KEY, 4, oversized="drop")
    pairs.collect()
    over.collect()
    assert runtime.persistent_ids(sc) == ids
    assert [e for e in runtime._DEFERRED if e[0] == "lsh"] == lsh_entries
    assert esc_over.count() > 0  # still readable from the registered cache


def _plan_nodes(plan):
    """Simple class names of an executed plan's operators, descending
    through adaptive wrappers and query stages.  A cached relation's
    scan is a leaf: its build is the cache's own plan."""
    name = plan.getClass().getSimpleName()
    if name == "AdaptiveSparkPlanExec":
        yield from _plan_nodes(plan.executedPlan())
        return
    yield name
    if name.endswith("QueryStageExec"):
        yield from _plan_nodes(plan.plan())
        return
    children = plan.children()
    for i in range(children.size()):
        yield from _plan_nodes(children.apply(i))


@pytest.mark.parametrize("mode", MODES)
def test_plan_is_one_window_exchange_then_the_pair_aggregation(spark, mode):
    """At most two shuffles — the window over the bucket key, then the
    (a, b) count — and no join: the sizes-aggregate join-back plus
    bucket-key self-join shape cost 2-3 s per pipeline leg."""
    df = spark.createDataFrame(_random_rows(5), _SCHEMA)
    pairs, _ = bucket_pairs(df, "clip_id", BAND_KEY, 4, oversized=mode)
    pairs.collect()
    nodes = list(_plan_nodes(pairs._jdf.queryExecution().executedPlan()))
    assert nodes.count("ShuffleExchangeExec") <= 2, nodes
    assert nodes.count("WindowExec") == 1, nodes
    assert not [n for n in nodes if "Join" in n], nodes
