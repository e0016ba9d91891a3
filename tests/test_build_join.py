"""Build/compaction + containment-join parity vs the reference fixtures.

Mirrors the reference integration tests:
* US915 set membership & len    — /root/reference/tests/tests.rs:34-57
* subtree/descendants           — /root/reference/tests/tests.rs:59-97
* compaction invariants         — /root/reference/tests/tests.rs:133-160
* naive-oracle comparison       — /root/reference/tests/tests.rs:6-23
* Monaco promoted-parent gets   — /root/reference/src/disktree/mod.rs:65-68
"""

import numpy as np
import pytest
from pyspark.sql import functions as F

from hexspark import build as bx
from hexspark import cells as cx
from hexspark import cells_np as cnp
from hexspark import constants as K
from hexspark import join as jx
from hexspark.fixtures import ensure_fixtures

NE_RES1 = 0x812A3FFFFFFFFFF  # northeast US res-1 cell from tests.rs:75


@pytest.fixture(scope="module")
def fixture_paths():
    return ensure_fixtures()


@pytest.fixture(scope="module")
def us915(spark, fixture_paths):
    return spark.read.parquet(fixture_paths["us915_compact"]).cache()


@pytest.fixture(scope="module")
def monaco(spark, fixture_paths):
    return spark.read.parquet(fixture_paths["monaco_res12"]).cache()


def naive_contains(region_cells: np.ndarray, target: int) -> bool:
    """Linear-scan oracle, port of tests.rs:6-23 semantics."""
    t = np.int64(target)
    tres = int(cnp.res(np.array([t]))[0])
    for c in region_cells:
        cres = int(cnp.res(np.array([c]))[0])
        if cres <= tres:
            if cnp.to_parent(np.array([t]), cres)[0] == c:
                return True
    return False


def descendant_probe(cell: int, res: int) -> int:
    """A res-``res`` descendant of ``cell`` via digit-0 path (bit math)."""
    c = np.int64(cell)
    cur = int(cnp.res(np.array([c]))[0])
    assert res >= cur
    out = (c & ~np.int64(K.RES_MASK)) | np.int64(res << K.RES_OFFSET)
    # clear the 0b111 fills between cur and res → digit 0
    for r in range(cur + 1, res + 1):
        out &= ~(np.int64(7) << ((K.MAX_RES - r) * K.DIGIT_BITS))
    return int(out)


# ---------------------------------------------------------------------------
# US915
# ---------------------------------------------------------------------------

def test_us915_len_precompacted(spark, us915):
    # pre-compacted input: build is a fixpoint (tests.rs:36-37 & 140)
    built = bx.build_region(us915, compactor="set")
    assert built.count() == 42383 == us915.count()


def test_us915_every_cell_gets_itself(spark, us915):
    # tests.rs:55-57: get(cell).0 == cell for every stored cell
    built = bx.build_region(us915, compactor="set").cache()
    got = jx.get_chained(
        us915.select(F.col("cell").alias("probe")), built, probe_col="probe"
    )
    n_match = got.filter(F.col("stored_cell") == F.col("probe")).count()
    assert n_match == 42383
    # region_counts over the 8-level map: the probe side never crosses
    # a Python boundary (no mapInArrow / mapInPandas / pandas UDF)
    from hexspark import ops

    assert len(jx.region_res_set(built)) == 8
    counts = ops.region_counts(
        us915.select("cell", F.lit("en").alias("lang")),
        built.withColumn("region", F.lit("US915")),
    )
    assert [tuple(r) for r in counts.collect()] == [("US915", 42383, 1)]
    plan = counts._jdf.queryExecution().executedPlan().toString()
    for node in ("MapInArrow", "MapInPandas", "ArrowEvalPython"):
        assert node not in plan, plan[:3000]


def test_us915_probe_semantics(spark, us915):
    cells = np.array([r[0] for r in us915.collect()], dtype=np.int64)
    built = bx.build_region(us915, compactor="set").cache()

    some = cells[[0, 100, 5000, 42000]]
    probes = []
    expected = []
    for c in some:
        r = int(cnp.res(np.array([c]))[0])
        # res-12 descendant: contained (ancestor-hit, rule 1)
        d = descendant_probe(int(c), 12) if r <= 12 else int(c)
        probes.append(d)
        expected.append(True)
        # strict ancestor: NOT contained (coarse-probe miss, rule 2)
        if r > 0:
            a = int(cnp.to_parent(np.array([c]), r - 1)[0])
            probes.append(a)
            expected.append(naive_contains(cells, a))
    # a base cell not present in US915 at all
    bases = set(cnp.base_cell(cells).tolist())
    missing_base = next(b for b in range(122) if b not in bases)
    foreign = int(cnp.make_cell(np.array([missing_base]), np.array([12]),
                                np.array([K.trailing_mask(12)]))[0])
    probes.append(foreign)
    expected.append(False)
    # invalid cells (negative, all-zero) are never contained
    probes += [-7, 0]
    expected += [False, False]

    # cross-check every probe against the naive oracle
    for p, e in zip(probes, expected):
        assert naive_contains(cells, p) == e, hex(p)

    # a NULL probe row survives the join, flagged not contained
    pdf = spark.createDataFrame(
        [(i, int(p)) for i, p in enumerate(probes)] + [(len(probes), None)],
        "id: long, probe: long",
    )
    got = jx.contains(pdf, built, probe_col="probe").collect()
    assert len(got) == len(probes) + 1
    by_id = {row["id"]: row["contained"] for row in got}
    for i, (p, e) in enumerate(zip(probes, expected)):
        assert by_id[i] == e, hex(p)
    assert by_id[len(probes)] is False


def test_us915_northeast_subtree(spark, us915):
    # tests.rs:74-97: descendants(northeast_res1) == related raw cells res>1
    cells = np.array([r[0] for r in us915.collect()], dtype=np.int64)
    ne = np.int64(NE_RES1)
    related = cells[
        (cnp.res(cells) > 1)
        & (cnp.to_parent(cells, 1) == cnp.to_parent(np.full_like(cells, ne), 1))
    ]
    # engine: range-overlap filter, ordered by lo
    built = bx.build_region(us915, compactor="set")
    got = jx.descendants(built, NE_RES1).collect()
    got_cells = np.array([r["cell"] for r in got], dtype=np.int64)
    assert sorted(got_cells.tolist()) == sorted(related.tolist())
    assert len(got_cells) > 0
    # every result promotes back to the ancestor
    assert (cnp.to_parent(got_cells, 1) == cnp.to_parent(np.full_like(got_cells, ne), 1)).all()
    # emission order == ascending lo (DFS parity)
    los = cnp.lo(got_cells)
    assert (np.diff(los) > 0).all()


# ---------------------------------------------------------------------------
# Monaco: compaction + promoted gets + idempotence
# ---------------------------------------------------------------------------

def test_monaco_compaction_and_promoted_get(spark, monaco):
    # the fixture ships pre-compacted: 825 leaves at res 9..12
    n_raw = monaco.count()
    assert n_raw == 825
    built = bx.build_region(monaco, compactor="set").cache()
    assert built.count() == n_raw  # fixpoint on compacted input

    # probe with res-12 DESCENDANTS of every leaf: all contained; stored
    # cell is the original leaf, promoted where leaf res < 12
    # (disktree/mod.rs:65-68 semantics)
    cells = np.array([r["cell"] for r in monaco.collect()], dtype=np.int64)
    probes = spark.createDataFrame(
        [(descendant_probe(int(c), 12), int(c)) for c in cells],
        "probe: long, leaf: long",
    )
    got = jx.get_chained(probes, built, probe_col="probe").cache()
    assert got.count() == n_raw
    assert got.filter(F.col("stored_cell") != F.col("leaf")).count() == 0
    promoted = got.filter(cx.res("stored_cell") < 12).count()
    assert promoted == int((cnp.res(cells) < 12).sum()) > 0
    got.unpersist()

    # compact → uncompact(res 12) → compact idempotence (BASELINE
    # invariant): 825 leaves expand to 7581 res-12 cells and must
    # compact back to exactly the same 825 leaves.
    uncompacted = bx.uncompact_df(built, 12).cache()
    expected_exp = int(sum(7 ** (12 - r) for r in cnp.res(cells)))
    assert uncompacted.count() == expected_exp
    rebuilt = bx.build_region(uncompacted, compactor="set")
    assert (
        rebuilt.select("cell").exceptAll(built.select("cell")).count() == 0
        and built.select("cell").exceptAll(rebuilt.select("cell")).count() == 0
    )
    uncompacted.unpersist()


def test_local_build_equals_distributed(spark, us915, monaco):
    """build_region_np (driver numpy) ≡ build_region (distributed)."""
    for src, kwargs in [
        (us915, dict(compactor="set")),
        (monaco, dict(compactor="set")),
        (
            monaco.withColumn("value", (F.col("cell") % 5).cast("long")),
            dict(value_col="value", compactor="eq", dedupe_policy="min"),
        ),
    ]:
        dist = bx.build_region(src, **kwargs)
        cols = dist.columns
        loc = bx.build_region_np(src.select(*cols).toPandas(), **kwargs)
        assert sorted(map(tuple, dist.collect())) == sorted(
            loc[cols].itertuples(index=False, name=None)
        )


def test_monaco_map_values_null_compactor(spark, monaco):
    # NullCompactor map: every inserted cell keeps its own value
    vals = monaco.withColumn("value", F.monotonically_increasing_id())
    built = bx.build_region(vals, value_col="value", compactor="none").cache()
    assert built.count() == 825
    got = jx.get_chained(
        vals.select(F.col("cell").alias("probe"), F.col("value").alias("expected")),
        built,
        probe_col="probe",
    )
    assert got.filter(
        (F.col("stored_cell") == F.col("probe")) & (F.col("value") == F.col("expected"))
    ).count() == 825


# ---------------------------------------------------------------------------
# synthetic compaction unit semantics
# ---------------------------------------------------------------------------

def _children_of(parent: int) -> list[int]:
    p = np.int64(parent)
    r = int(cnp.res(np.array([p]))[0]) + 1
    shift = (K.MAX_RES - r) * K.DIGIT_BITS
    bumped = (p & ~np.int64(K.RES_MASK)) | np.int64(r << K.RES_OFFSET)
    return [int(bumped - ((7 - d) << shift)) for d in range(7)]


def test_set_compactor_all7_rule(spark):
    parent = int(cnp.make_cell(np.array([33]), np.array([4]),
                               np.array([K.trailing_mask(4)]))[0])
    kids = _children_of(parent)
    # all 7 → compacts to parent (and cascades no further)
    df = spark.createDataFrame([(c,) for c in kids], "cell: long")
    out = bx.build_region(df, compactor="set").collect()
    assert [r["cell"] for r in out] == [parent]
    # only 6 → stays (the reference all-7 rule, NOT h3 compactCells)
    df6 = spark.createDataFrame([(c,) for c in kids[:6]], "cell: long")
    out6 = bx.build_region(df6, compactor="set").count()
    assert out6 == 6


def test_set_compactor_cascades(spark):
    gp = int(cnp.make_cell(np.array([7]), np.array([2]),
                           np.array([K.trailing_mask(2)]))[0])
    grandkids = [g for p in _children_of(gp) for g in _children_of(p)]
    df = spark.createDataFrame([(c,) for c in grandkids], "cell: long")
    out = bx.build_region(df, compactor="set").collect()
    assert [r["cell"] for r in out] == [gp]


def test_eq_compactor(spark):
    parent = int(cnp.make_cell(np.array([50]), np.array([6]),
                               np.array([K.trailing_mask(6)]))[0])
    kids = _children_of(parent)
    same = spark.createDataFrame([(c, "A") for c in kids], "cell: long, v: string")
    out = bx.build_region(same, value_col="v", compactor="eq").collect()
    assert len(out) == 1 and out[0]["cell"] == parent and out[0]["v"] == "A"
    mixed = spark.createDataFrame(
        [(c, "A" if i < 6 else "B") for i, c in enumerate(kids)],
        "cell: long, v: string",
    )
    out2 = bx.build_region(mixed, value_col="v", compactor="eq").count()
    assert out2 == 7


def test_eq_compactor_null_value_blocks(spark):
    """Regression: 6 equal + 1 NULL must NOT compact (pandas nunique
    ignores nulls; the reference EqCompactor needs 7 real equal values)."""
    parent = int(cnp.make_cell(np.array([51]), np.array([6]),
                               np.array([K.trailing_mask(6)]))[0])
    kids = _children_of(parent)
    rows = [(c, "A" if i < 6 else None) for i, c in enumerate(kids)]
    df = spark.createDataFrame(rows, "cell: long, v: string")
    out = bx.build_region(df, value_col="v", compactor="eq").collect()
    assert len(out) == 7  # unchanged — the null leaf survives
    assert sum(1 for r in out if r["v"] is None) == 1


def test_insert_into_covered_subtree_is_noop(spark):
    # rule 3: coarsest-cell-wins batch policy
    parent = int(cnp.make_cell(np.array([12]), np.array([3]),
                               np.array([K.trailing_mask(3)]))[0])
    kid = _children_of(parent)[2]
    df = spark.createDataFrame([(parent, "P"), (kid, "K")], "cell: long, v: string")
    out = bx.build_region(df, value_col="v", compactor="none").collect()
    assert len(out) == 1 and out[0]["cell"] == parent and out[0]["v"] == "P"


def test_quarantine_invalid(spark):
    df = spark.createDataFrame([(-5,), (0,), (0x85283473FFFFFFF,)], "cell: long")
    valid, bad = bx.validate_cells(df)
    assert valid.count() == 1 and bad.count() == 2


def test_quarantine_null_cell(spark):
    """Regression: NULL cells must route to quarantine, not vanish from
    both outputs (NULL predicate drops the row from filter(ok) AND
    filter(~ok))."""
    df = spark.createDataFrame(
        [(1, 0x85283473FFFFFFF), (2, None), (3, -5)], "id: long, cell: long"
    )
    valid, bad = bx.validate_cells(df)
    assert valid.count() == 1
    assert bad.count() == 2  # the NULL row is accounted for
    assert {r["id"] for r in bad.collect()} == {2, 3}


def test_subtree_agg(spark, monaco):
    # subtree-sum invariant (structure of iteration.rs:378-399): the sum
    # under an ancestor equals the sum of sums under a partition of it
    vals = monaco.withColumn("value", (F.col("cell") % 1000).cast("long")).cache()
    built = bx.build_region(vals, value_col="value", compactor="none")
    total_row = vals.agg(F.sum("value")).collect()[0][0]
    # ancestor = res-0 parent of first cell — Monaco fits in few bases
    cells = np.array([r["cell"] for r in monaco.collect()], dtype=np.int64)
    parents9 = np.unique(cnp.to_parent(cells, 9))
    probes = spark.createDataFrame([(int(p),) for p in parents9], "probe: long")
    sums = jx.subtree_agg(built, probes, [F.sum("value").alias("s")], probe_col="probe")
    assert sums.agg(F.sum("s")).collect()[0][0] == total_row


def test_get_chained_left_keeps_null_and_invalid_probes(spark, monaco):
    """A left get keeps every probe row: stored cells find their leaf,
    while NULL and invalid probe cells come back with a NULL leaf."""
    built = bx.build_region(monaco, compactor="set").cache()
    region_cells = np.array([r["cell"] for r in built.collect()], dtype=np.int64)
    cells = [int(r["cell"]) for r in monaco.limit(20).collect()]
    probe_rows = (
        [(i, c) for i, c in enumerate(cells)]
        + [(100, None), (101, -7), (102, 0)]
    )
    probes = spark.createDataFrame(probe_rows, "id: long, cell: long")
    got = jx.get_chained(probes, built, probe_col="cell", how="left").collect()
    by_id = {r["id"]: r["stored_cell"] for r in got}
    assert len(got) == len(probe_rows) and len(by_id) == len(probe_rows)
    for i, c in enumerate(cells):
        assert by_id[i] is not None and naive_contains(region_cells, c), hex(c)
        assert by_id[i] in set(region_cells.tolist())
    assert by_id[100] is None and by_id[101] is None and by_id[102] is None


def test_tile_stats_approx_tracks_exact(spark):
    """HLL++ sketch tile stats (the one-shuffle scale path for
    high-cardinality distincts) stay within tolerance of the exact
    two-shuffle count_distinct on every tile."""
    from hexspark import ops, synth

    pages = spark.range(20000).select(
        synth.cell_from_key(F.col("id"), 8).alias("cell"),
        (F.col("id") % 997).cast("string").alias("lang"),
    )
    exact = {r["tile"]: (r["n_pages"], r["n_langs"])
             for r in ops.tile_stats(pages, 2).collect()}
    approx = {r["tile"]: (r["n_pages"], r["n_distinct_approx"])
              for r in ops.tile_stats_approx(pages, 2, rsd=0.02).collect()}
    assert set(exact) == set(approx) and len(exact) > 1
    for t, (n, d) in exact.items():
        an, ad = approx[t]
        assert an == n  # plain count is exact in both
        assert abs(ad - d) <= max(3, 0.1 * d), (t, d, ad)


def test_descendants_join_chained_equals_range(spark, monaco):
    """descendants_join's per-resolution equi-joins must emit exactly
    the range-overlap BNLJ rows, including the covering-leaf case
    (probe deeper than the stored leaf)."""
    vals = monaco.withColumn("value", (F.col("cell") % 97).cast("long"))
    built = bx.build_region(vals, value_col="value", compactor="none").cache()
    cells = np.array([r["cell"] for r in monaco.collect()], dtype=np.int64)
    # res-14 descendants of stored res-12 leaves (digits 13,14 = 0):
    # clear those digit slots (they hold the 7,7 trailing marker at
    # res 12) and stamp res=14 — forces covering-leaf matches
    d13 = 0x7 << ((K.MAX_RES - 13) * K.DIGIT_BITS)
    d14 = 0x7 << ((K.MAX_RES - 14) * K.DIGIT_BITS)
    deeper14 = ((cells[:5] & ~(d13 | d14 | K.RES_MASK)) | (14 << K.RES_OFFSET)).astype(np.int64)
    probe_cells = np.concatenate([
        np.unique(cnp.to_parent(cells, 9))[:5],   # coarser than leaves
        cells[:5],                                 # exactly leaf res
        deeper14,                                  # deeper than leaves
    ])
    probes = spark.createDataFrame(
        [(int(p),) for p in np.unique(probe_cells)], "probe: long"
    )
    a = jx.descendants_join(built, probes, probe_col="probe")
    b = jx._descendants_range(built, probes, "cell", "probe")
    rows_a = sorted(tuple(r) for r in a.select("probe", "cell", "value").collect())
    rows_b = sorted(tuple(r) for r in b.select("probe", "cell", "value").collect())
    assert rows_a == rows_b and len(rows_a) > 0
    # the deeper probes must each resolve to their covering res-12 leaf
    got_deeper = {p for (p, _, _) in rows_a if p in set(int(x) for x in deeper14)}
    assert got_deeper == {int(x) for x in deeper14}


def _rand_cells_one_base(rng, n, res, base=20):
    """Random res-`res` cells all under ONE base — the worst-case skew
    for the base-partitioned ancestor-wins window."""
    digits = np.full(n, K.trailing_mask(res), dtype=np.int64)
    for i in range(res):
        digits += rng.integers(0, 7, size=n).astype(np.int64) << (
            (K.MAX_RES - 1 - i) * K.DIGIT_BITS
        )
    head = (
        (K.MODE_CELL << K.MODE_OFFSET)
        | (base << K.BASE_OFFSET)
        | (res << K.RES_OFFSET)
    )
    return head | digits


def test_drop_covered_prefix_partition_equals_default(spark):
    """Scale path for the ancestor-wins pass: prefix_res=B windows by
    the res-B prefix (122·7^B partitions, not 122) with a coarse-row
    boundary fix-up — output must be identical to the single-base-window
    default on a heavily skewed single-base input with planted ancestors
    both above and below the prefix boundary."""
    rng = np.random.default_rng(7)
    fine = _rand_cells_one_base(rng, 300_000, 12)           # dense leaves
    mid = np.unique(cnp.to_parent(fine[:20_000], 8))        # covers many
    near = np.unique(cnp.to_parent(fine[50_000:52_000], 4)) # at boundary
    coarse = np.unique(cnp.to_parent(fine[100_000:101_000], 2))  # below B
    all_cells = np.unique(np.concatenate([fine, mid, near, coarse]))
    df = spark.createDataFrame(
        [(int(c),) for c in all_cells.tolist()], "cell: long"
    ).repartition(32)
    a = sorted(r["cell"] for r in bx.drop_covered(df).collect())
    b = sorted(r["cell"] for r in bx.drop_covered(df, prefix_res=4).collect())
    assert a == b and 0 < len(a) < len(all_cells)
    # the planted coarse rows survive and have pruned all descendants
    surv = np.array(a, dtype=np.int64)
    assert np.isin(coarse, surv).all()
    deeper = surv[cnp.res(surv) > 2]
    assert not np.isin(cnp.to_parent(deeper, 2), coarse).any()
    # full-pipeline equivalence: build_region with and without prefix_res
    r1 = sorted(r["cell"] for r in bx.build_region(df, compactor="set").collect())
    r2 = sorted(
        r["cell"]
        for r in bx.build_region(df, compactor="set", prefix_res=4).collect()
    )
    assert r1 == r2


def test_set_compactor_with_values_deterministic(spark):
    """'set' compaction over a value column must pick the SAME child's
    value regardless of row arrival order (digit-0 child wins)."""
    base = 20
    cells7 = []
    for d in range(7):
        digits = K.trailing_mask(1) + (d << ((K.MAX_RES - 1) * K.DIGIT_BITS))
        cells7.append(
            (K.MODE_CELL << K.MODE_OFFSET)
            | (base << K.BASE_OFFSET)
            | (1 << K.RES_OFFSET)
            | digits
        )
    rows = [(c, 100 + d) for d, c in enumerate(cells7)]
    outs = []
    for perm in (rows, rows[::-1], rows[3:] + rows[:3]):
        df = spark.createDataFrame(perm, "cell: long, v: long").repartition(5)
        got = bx.build_region(df, value_col="v", compactor="set").collect()
        assert len(got) == 1
        outs.append((got[0]["cell"], got[0]["v"]))
    assert outs[0] == outs[1] == outs[2]
    assert outs[0][1] == 100  # digit-0 child's value


def test_get_chained_empty_region_and_bad_how(spark):
    probes = spark.createDataFrame([(int(0x85283473FFFFFFF),)], "cell: long")
    empty = spark.createDataFrame([], "cell: long, region: string")
    out = jx.get_chained(probes, empty, how="left")
    rows = out.collect()
    assert len(rows) == 1 and rows[0]["stored_cell"] is None and rows[0]["region"] is None
    assert jx.get_chained(probes, empty, how="inner").count() == 0
    with pytest.raises(ValueError, match="how must be"):
        jx.get_chained(probes, empty, how="full")


def _children_of_at(cell: int, res: int) -> list[int]:
    """All 7 children of a res-`res` cell (bit math)."""
    out = []
    for d in range(7):
        c = (cell & ~K.RES_MASK) | ((res + 1) << K.RES_OFFSET)
        pos = (K.MAX_RES - (res + 1)) * K.DIGIT_BITS
        c = (c & ~(0x7 << pos)) | (d << pos)
        out.append(int(c))
    return out


def test_compact_prefix_partition_cascades_equal_default(spark):
    """Two-pass prefix compaction must equal whole-base compaction on
    planted full-sibling cascades, including the cross-boundary one
    (res-4 children of a res-3 parent: singleton pass-1 groups, merged
    only by pass 2) and a two-level cascade fully inside one prefix
    group (49 res-6 cells -> their res-4 grandparent)."""
    rng = np.random.default_rng(13)
    scatter = _rand_cells_one_base(rng, 5000, 9).tolist()
    r3 = int(_rand_cells_one_base(rng, 1, 3)[0])
    cross_boundary = _children_of_at(r3, 3)              # 7 res-4 cells
    r4 = int(_rand_cells_one_base(rng, 1, 4)[0])
    two_level = [g for c in _children_of_at(r4, 4) for g in _children_of_at(c, 5)]
    all_cells = sorted(set(scatter + cross_boundary + two_level) - {r3, r4})
    df = spark.createDataFrame([(c,) for c in all_cells], "cell: long").repartition(16)
    a = sorted(r["cell"] for r in bx.build_region(df, compactor="set").collect())
    b = sorted(
        r["cell"]
        for r in bx.build_region(df, compactor="set", prefix_res=4).collect()
    )
    assert a == b
    assert r3 in b and r4 in b            # both cascades fired
    assert not set(cross_boundary) & set(b)
    assert not set(two_level) & set(b)
    # with values: the deterministic digit-0 policy must survive the
    # two-pass split identically
    dfv = spark.createDataFrame(
        [(c, c % 1000) for c in all_cells], "cell: long, v: long"
    ).repartition(16)
    av = sorted(
        (r["cell"], r["v"])
        for r in bx.build_region(dfv, value_col="v", compactor="set").collect()
    )
    bv = sorted(
        (r["cell"], r["v"])
        for r in bx.build_region(
            dfv, value_col="v", compactor="set", prefix_res=4
        ).collect()
    )
    assert av == bv
