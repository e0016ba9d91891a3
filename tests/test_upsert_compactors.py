"""entry()/upsert semantics, custom compactor trait, iter_mut, mono-map."""

import numpy as np
from pyspark.sql import functions as F

from hexspark import build as bx
from hexspark import cells_np as cnp
from hexspark import constants as K
from hexspark import join as jx


def mk(base, res, fill_digits=None):
    digits = K.trailing_mask(res) if fill_digits is None else fill_digits
    return int(cnp.make_cell(np.array([base]), np.array([res]), np.array([digits]))[0])


def children_of(parent):
    p = np.int64(parent)
    r = int(cnp.res(np.array([p]))[0]) + 1
    shift = (K.MAX_RES - r) * K.DIGIT_BITS
    bumped = (p & ~np.int64(K.RES_MASK)) | np.int64(r << K.RES_OFFSET)
    return [int(bumped - ((7 - d) << shift)) for d in range(7)]


def test_upsert_or_insert_respects_covering_leaf(spark):
    parent = mk(10, 3)
    kid = children_of(parent)[4]
    region = spark.createDataFrame([(parent, "P")], "cell: long, value: string")
    # inserting under a covering leaf is a no-op; a new cell inserts
    other = mk(11, 3)
    updates = spark.createDataFrame(
        [(kid, "K"), (other, "N")], "cell: long, value: string"
    )
    out = bx.upsert(region, updates, mode="or_insert").collect()
    got = {r["cell"]: r["value"] for r in out}
    assert got == {parent: "P", other: "N"}


def test_upsert_overwrite_at_exact_cell(spark):
    a, b = mk(10, 3), mk(11, 3)
    region = spark.createDataFrame([(a, "old"), (b, "keep")], "cell: long, value: string")
    updates = spark.createDataFrame([(a, "new")], "cell: long, value: string")
    out = bx.upsert(region, updates, mode="overwrite").collect()
    got = {r["cell"]: r["value"] for r in out}
    assert got == {a: "new", b: "keep"}


def test_upsert_and_modify_doctest(spark):
    """Mirror of the reference and_modify doctest
    (/root/reference/src/entry.rs:40-58): first call inserts the
    default ('France' — and_modify is a no-op on vacant); the second
    call's and_modify fires on the now-occupied entry ('Paris')."""
    target = mk(15, 12)
    empty = spark.createDataFrame([], "cell: long, value: string")
    updates = spark.createDataFrame([(target, "France")], "cell: long, value: string")
    set_paris = lambda cell, v: F.lit("Paris")  # noqa: E731
    once = bx.upsert(empty, updates, mode="and_modify", modify_fn=set_paris)
    got1 = {r["cell"]: r["value"] for r in once.collect()}
    assert got1 == {target: "France"}
    twice = bx.upsert(once, updates, mode="and_modify", modify_fn=set_paris)
    got2 = {r["cell"]: r["value"] for r in twice.collect()}
    assert got2 == {target: "Paris"}


def test_upsert_and_modify_promoted_ancestor(spark):
    """and_modify applies f to the *resolving* leaf — a covering
    ancestor counts as occupied (entry.rs: OccupiedEntry carries the
    actual stored cell, which may be coarser than the target)."""
    parent = mk(12, 3)
    kid = children_of(parent)[2]
    other = mk(13, 9)
    region = spark.createDataFrame(
        [(parent, "P"), (other, "O")], "cell: long, value: string"
    )
    updates = spark.createDataFrame([(kid, "ignored")], "cell: long, value: string")
    bump = lambda cell, v: F.concat(v, F.lit("!"))  # noqa: E731
    out = bx.upsert(region, updates, mode="and_modify", modify_fn=bump).collect()
    got = {r["cell"]: r["value"] for r in out}
    assert got == {parent: "P!", other: "O"}  # ancestor modified, rest untouched
    # pure and_modify (no or_insert): vacant update is a no-op
    vac = spark.createDataFrame([(mk(14, 5), "new")], "cell: long, value: string")
    out2 = bx.upsert(
        region, vac, mode="and_modify", modify_fn=bump, insert_vacant=False
    ).collect()
    assert {r["cell"]: r["value"] for r in out2} == {parent: "P", other: "O"}


def test_upsert_or_insert_with_and_or_default(spark):
    """entry.rs:118-182: or_insert_with computes the default from the
    target cell, only for vacant entries; or_default inserts the type
    default."""
    a, b = mk(10, 3), mk(11, 3)
    region = spark.createDataFrame([(a, 100)], "cell: long, value: long")
    updates = spark.createDataFrame([(a, 0), (b, 0)], "cell: long, value: long")
    out = bx.upsert(
        region, updates, mode="or_insert_with",
        modify_fn=lambda cell: (cell % 7).cast("long"),
    ).collect()
    got = {r["cell"]: r["value"] for r in out}
    assert got[a] == 100  # occupied untouched
    assert got[b] == b % 7  # vacant computed from its own cell
    out2 = bx.upsert(region, updates, mode="or_default").collect()
    got2 = {r["cell"]: r["value"] for r in out2}
    assert got2 == {a: 100, b: None}


def test_custom_compactor_trait(spark):
    """User compactor: coalesce when >= 5 children present, value =
    sum of child values (something neither set nor eq expresses)."""
    parent = mk(20, 5)
    kids = children_of(parent)

    def sum_if_5(cell, children):
        present = [v for v in children if v is not None]
        if len(present) >= 5:
            return int(sum(present))
        return None

    five = spark.createDataFrame(
        [(c, i + 1) for i, c in enumerate(kids[:5])], "cell: long, value: long"
    )
    out = bx.build_region(five, value_col="value", compactor=sum_if_5).collect()
    assert len(out) == 1
    assert out[0]["cell"] == parent and out[0]["value"] == 15
    four = spark.createDataFrame(
        [(c, i + 1) for i, c in enumerate(kids[:4])], "cell: long, value: long"
    )
    out4 = bx.build_region(four, value_col="value", compactor=sum_if_5).count()
    assert out4 == 4


def test_custom_compactor_cascades_to_base(spark):
    """An always-coalesce compactor cascades all the way to the base
    cell, exactly like the reference (coalesce fires at every ancestor
    on unwind, even with a single Leaf child present)."""
    gp = mk(30, 2)
    kids = children_of(gp)
    grandkids = children_of(kids[0])

    def always(cell, children):
        return 1

    rows = [(c, 1) for c in kids[1:]] + [(g, 1) for g in grandkids[:2]]
    df = spark.createDataFrame(rows, "cell: long, value: long")
    out = bx.build_region(df, value_col="value", compactor=always)
    got = sorted(r["cell"] for r in out.collect())
    assert got == [mk(30, 0)]


def test_custom_compactor_blocked_by_parent_child(spark):
    """A node with a Parent child never coalesces, whatever the fn says
    (/root/reference/src/node.rs:58-64): a res-capped compactor shows
    the grandkid subtree coalescing while the blocked level holds."""
    gp = mk(31, 2)
    kids = children_of(gp)
    grandkids = children_of(kids[0])

    def cap_res3(cell, children):
        res = (cell >> K.RES_OFFSET) & 0xF
        if res >= 3 and any(v is not None for v in children):
            return 1
        return None

    rows = [(c, 1) for c in kids[1:]] + [(g, 1) for g in grandkids[:2]]
    df = spark.createDataFrame(rows, "cell: long, value: long")
    out = bx.build_region(df, value_col="value", compactor=cap_res3)
    got = sorted(r["cell"] for r in out.collect())
    assert got == sorted(kids)  # grandkids folded into kids[0]; gp held


def test_map_values_iter_mut(spark):
    """iter_mut +1 visible via subsequent lookups
    (/root/reference/src/iteration.rs:276-310 shape)."""
    cells = [mk(5, 4), mk(6, 4), mk(7, 4)]
    region = spark.createDataFrame(
        [(c, i) for i, c in enumerate(cells)], "cell: long, value: long"
    )
    bumped = bx.map_values(region, "value", lambda v: v + 1)
    probes = spark.createDataFrame([(c,) for c in cells], "probe: long")
    got = jx.get_chained(probes, bumped, probe_col="probe")
    vals = {r["stored_cell"]: r["value"] for r in got.collect()}
    assert vals == {c: i + 1 for i, c in enumerate(cells)}


def test_mono_map_multi_region(spark):
    """I5 mono-map (/root/reference/tests/tests.rs:100-131): two regions
    with distinct values in one EqCompactor map; every inserted cell
    resolves to its region's value via a possibly-promoted key."""
    pa, pb = mk(40, 4), mk(41, 4)
    cells_a = [g for k in children_of(pa) for g in children_of(k)]  # res-6
    cells_b = children_of(pb)  # res-5
    rows = [(c, "EU868") for c in cells_a] + [(c, "US915") for c in cells_b]
    df = spark.createDataFrame(rows, "cell: long, value: string")
    mono = bx.build_region(df, value_col="value", compactor="eq").cache()
    # full compaction: each region collapses to its res-4 parent
    got = {r["cell"]: r["value"] for r in mono.collect()}
    assert got == {pa: "EU868", pb: "US915"}
    probes = spark.createDataFrame(
        [(c, "EU868") for c in cells_a] + [(c, "US915") for c in cells_b],
        "probe: long, expected: string",
    )
    res = jx.get_chained(probes, mono, probe_col="probe")
    assert res.count() == len(cells_a) + len(cells_b)
    assert res.filter(F.col("value") != F.col("expected")).count() == 0
    # stored cell is an ancestor of every probe
    from hexspark import cells as cx
    assert res.filter(~cx.covers("stored_cell", "probe")).count() == 0
