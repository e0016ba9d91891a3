"""Two-phase top-k: row-identity with the window form + plan shape."""

import numpy as np
import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from hexspark.topk import topk_per_key

RNG = np.random.default_rng(7)


@pytest.fixture(scope="module")
def scored(spark):
    n = 5000
    rows = [
        (int(RNG.integers(0, 7)), int(i), float(RNG.uniform(0, 100)))
        for i in range(n)
    ]
    return spark.createDataFrame(rows, "key: long, rid: long, score: double").repartition(16)


def _window_form(df, k, desc=False):
    o = F.col("score").desc() if desc else F.col("score").asc()
    w = Window.partitionBy("key").orderBy(o, F.col("rid").asc())
    return (
        df.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("key", F.col("rank").cast("long").alias("rank"), "rid", "score")
    )


def test_topk_matches_window_asc(scored):
    got = topk_per_key(
        scored, keys=["key"], order=[F.col("score"), F.col("rid")],
        payload=["rid", "score"], k=10,
    )
    want = _window_form(scored, 10)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_topk_matches_window_desc(scored):
    got = topk_per_key(
        scored, keys=["key"], order=[-F.col("score"), F.col("rid")],
        payload=["rid", "score"], k=7,
    )
    want = _window_form(scored, 7, desc=True)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_topk_k_exceeds_group(spark):
    df = spark.createDataFrame(
        [(1, 10, 1.0), (1, 11, 2.0), (2, 20, 3.0)], "key: long, rid: long, score: double"
    )
    out = topk_per_key(
        df, keys=["key"], order=[F.col("score"), F.col("rid")],
        payload=["rid"], k=5,
    ).collect()
    assert len(out) == 3  # smaller groups emit all rows, ranks still 1-based
    ranks = {(r["key"], r["rank"]) for r in out}
    assert ranks == {(1, 1), (1, 2), (2, 1)}


def test_no_single_key_exchange_in_ann_plan(spark, sf_dir):
    """The scale guarantee: the ANN ranking tail must not shuffle all
    candidates into one reducer partition per query (no Window / no
    Exchange keyed by query_id alone feeding a Sort)."""
    from hexspark.embed import ann_topk_brute

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    plan = ann_topk_brute(emb, q, 5)._jdf.queryExecution().executedPlan().toString()
    # no per-key global window sort anywhere
    assert "Window" not in plan
    # the candidate stream aggregates by (query_id, __pid) first — only
    # the tiny merged arrays ever exchange by query_id alone
    assert "__pid" in plan
    import re
    sorts_on_bare_key = re.findall(r"Sort \[query_id[^\]]*\], false", plan)
    assert not sorts_on_bare_key, plan


# ---------------------------------------------------------------------------
# draw-threshold form (topk_per_key_by_draw)
# ---------------------------------------------------------------------------

def _bytes_of(metric_str):
    import re
    m = re.search(r"([\d.]+)\s*(B|KiB|MiB|GiB)", metric_str)
    assert m, metric_str
    mult = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30}[m.group(2)]
    return float(m.group(1)) * mult


def _shuffle_bytes_during(spark, action):
    """Total 'shuffle bytes written' across every SQL execution the
    action triggers (the status store is the same source as the UI)."""
    import time

    store = spark._jsparkSession.sharedState().statusStore()

    def execution_ids():
        execs = store.executionsList()
        return [execs.apply(i).executionId() for i in range(execs.length())]

    # select by id, not list position: once a long session passes
    # spark.sql.ui.retainedExecutions the list length stops growing
    before = max(execution_ids(), default=-1)
    action()
    time.sleep(0.5)  # status store updates are async
    execs = store.executionsList()
    total = 0.0
    for idx in range(execs.length()):
        e = execs.apply(idx)
        if e.executionId() <= before:
            continue
        mvals = store.executionMetrics(e.executionId())
        ms = e.metrics()
        for i in range(ms.length()):
            m = ms.apply(i)
            if m.name() == "shuffle bytes written":
                v = mvals.get(m.accumulatorId())
                if v.isDefined():
                    total += _bytes_of(str(v.get()))
    return total


def test_topk_by_draw_matches_and_cuts_shuffle(spark):
    """Identical rows to the plain two-phase form, with the exchange
    volume collapsed from O(N) buffered rows to O(keys × k)."""
    from hexspark.sample import sample_hash
    from hexspark.topk import topk_per_key, topk_per_key_by_draw

    df = (
        spark.range(100_000)
        .select(
            (F.col("id") % 20).alias("key"),
            F.col("id").alias("rid"),
            F.concat(F.lit("payload-"), F.col("id")).alias("blob"),
        )
        .repartition(16)
        .persist()
    )
    df.count()  # materialize: both forms read from cache, no scan skew
    draw = sample_hash(F.col("rid"), salt=9)
    old_rows, new_rows = [], []
    old_bytes = _shuffle_bytes_during(
        spark,
        lambda: old_rows.extend(
            topk_per_key(
                df, keys=["key"], order=[draw, F.col("rid")],
                payload=["rid", "blob"], k=5,
            ).collect()
        ),
    )
    new_bytes = _shuffle_bytes_during(
        spark,
        lambda: new_rows.extend(
            topk_per_key_by_draw(
                df, keys=["key"], draw=draw, order_tail=[F.col("rid")],
                payload=["rid", "blob"], k=5,
            ).collect()
        ),
    )
    assert sorted(map(tuple, old_rows)) == sorted(map(tuple, new_rows))
    assert len(new_rows) == 20 * 5
    # the whole point: the draw threshold keeps the corpus out of the
    # exchange (counts agg + ~safety*k survivors per key, not 100k
    # buffered structs)
    assert new_bytes < old_bytes / 3, (old_bytes, new_bytes)
    df.unpersist()


def test_topk_by_draw_undershoot_rescue(spark):
    """A key whose draws are all far above the threshold yields zero
    survivors — the rescue pass must still produce its exact top-k."""
    from hexspark.topk import topk_per_key, topk_per_key_by_draw

    rows = [(1, i, 5000 + (i % 1000)) for i in range(1000)]   # all high
    rows += [(2, 10_000 + i, (i * 37) % 10_000) for i in range(1000)]
    df = spark.createDataFrame(rows, "key: long, rid: long, d: long").repartition(8)
    got = topk_per_key_by_draw(
        df, keys=["key"], draw=F.col("d"), order_tail=[F.col("rid")],
        payload=["rid", "d"], k=5,
    )
    want = topk_per_key(
        df, keys=["key"], order=[F.col("d"), F.col("rid")],
        payload=["rid", "d"], k=5,
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_topk_by_draw_key_count_fallback(spark):
    """Past the counts broadcast budget the function must degrade to
    the plain two-phase form verbatim (never a shuffled counts join)."""
    from hexspark.topk import topk_per_key, topk_per_key_by_draw

    df = spark.createDataFrame(
        [(i % 50, i, (i * 7919) % 10_000) for i in range(5000)],
        "key: long, rid: long, d: long",
    )
    got = topk_per_key_by_draw(
        df, keys=["key"], draw=F.col("d"), order_tail=[F.col("rid")],
        payload=["rid"], k=3, counts_broadcast_rows=10,
    )
    want = topk_per_key(
        df, keys=["key"], order=[F.col("d"), F.col("rid")],
        payload=["rid"], k=3,
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))
